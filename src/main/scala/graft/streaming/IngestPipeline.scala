package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.Commit
import graft.operators.{DedupQueries, IndexLifecycle}

/** The COMPOSED training-ingest admission pipeline (VERDICT r15 item 4):
  * the admission stages exist separately — decontamination
  * ([[StatefulOps.decontaminateAdmit]]), dedup admitters, token budgets,
  * postings append — but production runs them in ONE order on ONE
  * checkpointed stream. Each micro-batch of `(doc_id, lang, text)` runs:
  *
  *   1. DECONTAMINATE — q282's excision against the frozen eval-window
  *      index (broadcast membership probe; doc-local transform);
  *   2. EXACT-DEDUP ADMIT — the verbatim grain: a doc whose CLEANED
  *      text's digest matches an ADMITTED doc's is rejected (q38/q69's
  *      first-writer keeper, at arrival order; the span-grain excision
  *      operators q114/q277 compose here identically when a deployment
  *      wants sub-document granularity);
  *   3. NEAR-DUP ADMIT — SimHash pairs of the cleaned batch against the
  *      ADMITTED postings pillar plus the batch itself
  *      ([[IndexLifecycle.batchPairsAt]], q289's union-capped
  *      admission), greedily resolved in arrival order so only ADMITTED
  *      docs block (a rejected near-dup never shadows a later arrival —
  *      the chunking-invariance requirement);
  *   4. TOKEN-BUDGET ADMIT — per-lang running budget over the cleaned
  *      BPE-ish token count (q69's tokenizer), admit-in-arrival-order;
  *      a rejected doc consumes nothing and never blocks anyone;
  *   5. POSTINGS APPEND + MANIFEST — the admitted docs' signatures
  *      commit into the pillar (so the next batch admits against them),
  *      their digests land in the digest store, and ONE per-batch
  *      admission manifest records every doc's verdict and why.
  *
  * Exactly-once is the idempotent-foreachBatch discipline
  * ([[StatefulOps.decontaminateAdmit]]'s contract, extended to a
  * pipeline with CROSS-BATCH state): every landed artifact is
  * partitioned `batch=<id>` and published whole by [[Commit.publish]],
  * which leaves a committed directory untouched; the pillar version
  * the batch admitted against is recorded at first processing and
  * re-read on replay (the pillar itself has advanced — decisions must
  * not); budget and digest state re-derive from durable per-batch
  * artifacts with batch < id only, resolved as one consolidated
  * SNAPSHOT plus a bounded tail (per-batch read cost O(snapEvery),
  * not O(batches)). So a replayed epoch recomputes bit-identical
  * decisions, finds their files already committed, and the pillar append
  * replays as its documented anti-join no-op. Retention on the ingest
  * pillar excludes [[ingestPinnedVersions]] — the versions committed
  * epochs re-decide against on replay.
  *
  * Scale: stages 1–3's heavy work (excision, signatures, banded pairs)
  * is distributed and batch-sized; only the per-doc FEATURE rows and the
  * admission-touching PAIRS are collected for the greedy resolution —
  * admission-sized driver work, the q289 discipline (a batch's verdicts
  * are a sequential function of arrival order; the corpus never moves).
  * The greedy's blocking state is the ADMITTED corpus alone, which is
  * why the decisions are chunking-invariant: any split of the same
  * arrival order yields the same admitted set (wherever no banded
  * bucket saturates — the standing streaming-admission caveat). */
object IngestPipeline {

  /** One doc's admission verdict — the manifest row. `dup_families`
    * names every near-dup family that blocked the doc (comma-joined,
    * sorted; empty when none — the per-family rejection reason);
    * `span_excised` is the token mass the span grain removed as
    * already-admitted duplicate spans (0 when the grain is off). */
  final case class IngestDecision(doc_id: Long, lang: String,
                                  n_tokens: Long, excised_tokens: Long,
                                  clean_tokens: Long, exact_dup: Boolean,
                                  near_dup: Boolean, over_budget: Boolean,
                                  admitted: Boolean, span_excised: Long,
                                  dup_families: String)

  /** Which admission stages the composed pipeline runs. `families`
    * selects the near-dup pillars consulted (any subset of
    * [[Families]], each probing and appending its OWN stored postings
    * pillar under the same pinned-version replay discipline);
    * `spanGrain` adds the q114/q277 sub-document grain — spans already
    * admitted are EXCISED from an arriving doc (shrinking what the
    * budget charges) instead of rejecting the doc whole. A deployment
    * fixes the stage set per ingest base; the stage semantics compose,
    * they don't interact. */
  final case class IngestStages(families: Seq[String] = Seq("simhash"),
                                spanGrain: Boolean = false)

  /** The near-dup families the pipeline can compose. */
  val Families: Seq[String] = Seq("simhash", "minhash")

  /** One near-dup family: its stored postings pillar, the signature
    * frame of cleaned `(doc_id, text)`, the full-rebuild pair set of a
    * signature frame, and its pillar and per-batch pin directories under
    * an ingest base. */
  private final case class Family(postings: IndexLifecycle.Postings[_],
                                  sigsOf: DataFrame => DataFrame,
                                  pairsOf: DataFrame => DataFrame,
                                  pillarDir: String, pinDir: String)

  private val FamilyOf: Map[String, Family] = Map(
    "simhash" -> Family(IndexLifecycle.SimhashPostings,
      DedupQueries.textSimhashSigsFor,
      DedupQueries.simhashNearDupPairsUnsorted(_), "pillar", "pillarv"),
    "minhash" -> Family(IndexLifecycle.MinhashPostings,
      DedupQueries.minhashSignaturesFor,
      DedupQueries.minhashPairsOfSigs(_), "pillarm", "pillarvm"))

  /** Default admission-state snapshot cadence (batches). */
  val SnapEvery: Int = 8

  /** Start the composed checkpointed ingest: `docs` streams
    * (doc_id, lang, text); artifacts land under `base`
    * (manifest, digests, spans, per-family pillar + pin dirs, snap). Every
    * `snapEvery` batches the pipeline lands a consolidated
    * admission-state snapshot so per-batch state reads stay
    * O(snapEvery), not O(batches). */
  def ingestAdmit(docs: DataFrame, evalW: DataFrame, budgetPerLang: Long,
                  base: String, checkpoint: String,
                  snapEvery: Int = SnapEvery,
                  stages: IngestStages = IngestStages())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        processBatch(batch.sparkSession, batch.toDF(), id, evalW,
          budgetPerLang, base, snapEvery, stages)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** The SAME stages composed over one corpus frame in one pass (empty
    * initial state) — the batch sibling the spec pins the stream to,
    * row-for-row. Returns the manifest ordered by doc_id. */
  def ingestAdmitBatch(s: SparkSession, docs: DataFrame, evalW: DataFrame,
                       budgetPerLang: Long,
                       stages: IngestStages = IngestStages()): DataFrame = {
    import s.implicits._
    val fams = familiesOf(stages)
    val feats = features(s, docs, evalW).persist()
    try {
      val cleaned = feats.select(col("doc_id"), col("text_clean").as("text"))
      val famPairs = fams.map { case (f, fam) =>
        f -> pairList(fam.pairsOf(fam.sigsOf(cleaned)))
      }
      val ids = feats.select("doc_id").collect().map(_.getLong(0)).toSet
      val (storedRuns, pairRuns) =
        if (!stages.spanGrain) (NoRuns, NoPairRuns)
        else spanRunsOf(s, winsOf(feats), emptySpans(s))
      greedy(collectFeats(feats), Set.empty, famPairs, ids,
        storedRuns, pairRuns, stages.spanGrain,
        scala.collection.mutable.Map.empty, budgetPerLang)
        .toDS().toDF().orderBy("doc_id")
    } finally { feats.unpersist(); () }
  }

  /** The validated stage set's families, each mapped to its [[Family]]. */
  private def familiesOf(stages: IngestStages): Seq[(String, Family)] = {
    require(stages.families.nonEmpty &&
      stages.families.forall(Families.contains) &&
      stages.families.distinct == stages.families,
      s"families must be a non-empty subset of $Families: " +
        s"${stages.families}")
    stages.families.map(f => f -> FamilyOf(f))
  }

  private def pairList(pairs: DataFrame): Seq[(Long, Long)] =
    pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  // ---------- per-batch machinery ----------

  /** Stage-1 output plus the stage-2/4 features: (doc_id, lang,
    * n_tokens, excised_tokens, text_clean, digest, clean_tokens). */
  private def features(s: SparkSession, docs: DataFrame,
                       evalW: DataFrame): DataFrame =
    DedupQueries.exciseAgainst(docs.select("doc_id", "text"), evalW)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("digest", sha2(col("text_clean"), 256))
      .withColumn("clean_tokens",
        size(regexp_extract_all(lower(col("text_clean")),
          lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0))).cast("long"))

  private final case class Feat(doc_id: Long, lang: String, n_tokens: Long,
                                excised: Long, digest: String,
                                cleanTokens: Long)

  private def collectFeats(feats: DataFrame): Seq[Feat] =
    feats.select("doc_id", "lang", "n_tokens", "excised_tokens", "digest",
        "clean_tokens")
      .collect()
      .map(r => Feat(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5)))
      .sortBy(_.doc_id).toSeq

  private val NoRuns = Map.empty[Long, Seq[(Long, Long)]]
  private val NoPairRuns = Map.empty[(Long, Long), Seq[(Long, Long)]]

  /** Union of inclusive token intervals — driver-side merge of the
    * per-source duplicate runs (each source's runs arrive pre-merged
    * from the distributed islands pass; across sources they can
    * overlap, and covered-token mass is the measure of the UNION). */
  private def mergeRuns(runs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    runs.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((pa, pb) :: tail, (a, b)) if a <= pb + 1 =>
        (pa, math.max(pb, b)) :: tail
      case (acc, r) => r :: acc
    }.reverse

  /** The arrival-order greedy over one batch: blocking state is the
    * ADMITTED corpus only (stored digests / pair partners / span
    * windows — all admitted by construction of the stores) plus the
    * docs this walk admits. Every enabled near-dup family votes
    * independently (`dup_families` records who blocked); the span grain
    * EXCISES instead of rejecting — a doc's budget charge is its clean
    * tokens minus the merged mass of spans already admitted (stored
    * runs always apply; same-batch pair runs apply per admitted earlier
    * arrival). */
  private def greedy(feats: Seq[Feat], storedDigestHits: Set[String],
                     famPairs: Seq[(String, Seq[(Long, Long)])],
                     batchIds: Set[Long],
                     storedSpanRuns: Map[Long, Seq[(Long, Long)]],
                     pairSpanRuns: Map[(Long, Long), Seq[(Long, Long)]],
                     spanGrain: Boolean,
                     consumed: scala.collection.mutable.Map[String, Long],
                     budget: Long): Seq[IngestDecision] = {
    // pair partners per batch doc and family: stored partners always
    // block (the pillar holds admitted docs only); batch partners block
    // iff they are EARLIER arrivals that this walk admits
    val fams = famPairs.map { case (fam, pairs) =>
      val storedBlocked = scala.collection.mutable.Set.empty[Long]
      val batchBlockers = scala.collection.mutable
        .Map.empty[Long, List[Long]].withDefaultValue(Nil)
      pairs.foreach { case (x, y) =>
        (batchIds(x), batchIds(y)) match {
          case (true, true) =>
            val (early, late) = if (x < y) (x, y) else (y, x)
            batchBlockers(late) = early :: batchBlockers(late)
          case (true, false) => storedBlocked += x
          case (false, true) => storedBlocked += y
          case _ => ()
        }
      }
      (fam, storedBlocked, batchBlockers)
    }
    // per doc: the earlier same-batch docs holding span runs against it
    val spanBlockers: Map[Long, Seq[Long]] =
      pairSpanRuns.keys.toSeq.groupBy(_._1)
        .map { case (late, ks) => late -> ks.map(_._2) }
    val admittedHere = scala.collection.mutable.Set.empty[Long]
    val admittedDigests = scala.collection.mutable.Set.empty[String]
    feats.map { f =>
      val exactDup = storedDigestHits(f.digest) ||
        admittedDigests(f.digest)
      val hitFams = fams.collect {
        case (fam, sb, bb)
          if sb(f.doc_id) || bb(f.doc_id).exists(admittedHere) => fam
      }.sorted
      val nearDup = hitFams.nonEmpty
      val spanExcised =
        if (!spanGrain) 0L
        else mergeRuns(storedSpanRuns.getOrElse(f.doc_id, Nil) ++
            spanBlockers.getOrElse(f.doc_id, Nil).filter(admittedHere)
              .flatMap(e => pairSpanRuns((f.doc_id, e))))
          .map { case (a, b) => b - a + 1 }.sum
      val charge = f.cleanTokens - spanExcised
      val used = consumed.getOrElse(f.lang, 0L)
      val overBudget = used + charge > budget
      val admitted = !exactDup && !nearDup && !overBudget
      if (admitted) {
        admittedHere += f.doc_id
        admittedDigests += f.digest
        consumed(f.lang) = used + charge
      }
      IngestDecision(f.doc_id, f.lang, f.n_tokens, f.excised, f.cleanTokens,
        exactDup, nearDup, overBudget, admitted, spanExcised,
        hitFams.mkString(","))
    }
  }

  // ---------- span-grain machinery ----------
  //
  // The q114/q277 grain at admission: a doc whose CLEANED text repeats
  // spans of already-ADMITTED content has those spans excised (the
  // budget charges only novel mass) instead of being rejected whole.
  // Chunking invariance demands one filing rule the distributed pass
  // can evaluate without knowing admission outcomes: an admitted doc
  // blocks with its ARRIVAL windows (post-decontamination, pre-span-
  // excision) — the spans it itself lost are already blocked by their
  // true owner, so the only semantic cost is ≤3-token over-blocking at
  // excised-run boundaries (a boundary window's exact 4-gram survives
  // in no admitted doc, but its text IS corpus content that arrived).
  // Driver payload is merged INTERVAL lists (the islands output), not
  // positions — admission-sized for real corpora; a pathological batch
  // of maximally self-similar docs degrades toward doc-sized lists,
  // the same bound the reference's ≤500-record batch contract caps.

  /** (wh, doc_id, pos) rolling windows of the batch's cleaned text. */
  private def winsOf(feats: DataFrame): DataFrame =
    DedupQueries.windowKeysFor(
      feats.select(col("doc_id"), col("text_clean").as("text")))

  /** Merged duplicate-span runs of each batch doc against (a) the
    * stored admitted-window frame and (b) EARLIER same-batch docs —
    * distributed islands merge, driver-collected as interval lists
    * keyed (doc) and (late, early). */
  private def spanRunsOf(s: SparkSession, wins: DataFrame,
                         storedSpans: DataFrame)
      : (Map[Long, Seq[(Long, Long)]],
         Map[(Long, Long), Seq[(Long, Long)]]) = {
    val storedDup = wins
      .join(storedSpans.select("wh").distinct(), Seq("wh"))
      .select(col("doc_id"), col("pos").as("i")).distinct()
    val storedRuns = DedupQueries.mergedSpans(storedDup)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSeq }
    val early = wins.select(col("wh"), col("doc_id").as("early")).distinct()
    val pairDup = wins.join(early, "wh")
      .filter(col("early") < col("doc_id"))
      .select(struct(col("doc_id").as("late"), col("early")).as("doc_id"),
        col("pos").as("i"))
      .distinct()
    val pairRuns = DedupQueries.mergedSpans(pairDup)
      .select(col("doc_id.late"), col("doc_id.early"), col("a"), col("b"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSeq }
    (storedRuns, pairRuns)
  }

  /** private[graft]: the spec re-drives a committed epoch through this
    * seam to pin replay determinism without forcing a mid-commit crash. */
  private[graft] def processBatch(s: SparkSession, batch: DataFrame, id: Long,
                                  evalW: DataFrame, budget: Long,
                                  base: String,
                                  snapEvery: Int = SnapEvery,
                                  stages: IngestStages = IngestStages())
      : Unit = {
    import s.implicits._
    val fams = familiesOf(stages)
    fams.foreach { case (f, _) => ensurePillar(s, base, f) }
    val tdPre = pinnedTakedownSeq(s, base, id)
    // one pinned pillar version per enabled family — each family's
    // replay re-decides against ITS recorded store state
    val famPins = fams.map { case (f, _) =>
      f -> pinnedScalar(s, familyPinDir(base, f, id), "v")(
        IndexLifecycle.latestVersion(familyRoot(base, f)).getOrElse(1L))
    }.toMap
    val feats = features(s, batch, evalW).persist()
    val cleaned = feats.select(col("doc_id"), col("text_clean").as("text"))
    // persisted for the epoch and RELEASED in the finally (a localCheckpoint
    // here could never be released and would accumulate per epoch): the
    // probe consumes each family's signature frame three times (band keys +
    // both confirm sides) and the append twice more (no-op probe + delta
    // write) — one signature walk per family per epoch instead of ~5.
    // Built INSIDE the try, one family at a time: a throw while
    // constructing or persist-marking a family's frame must still reach
    // the finally with every frame marked so far, or feats' and the
    // earlier families' persisted blocks leak for the session.
    val famSigs = scala.collection.mutable.Map.empty[String, DataFrame]
    try {
      fams.foreach { case (f, fam) =>
        famSigs(f) = fam.sigsOf(cleaned)
        famSigs(f).persist()
      }
      val famPairs = fams.map { case (f, fam) =>
        f -> pairList(IndexLifecycle.batchPairsAt(s, familyRoot(base, f),
          fam.postings, famPins(f), famSigs(f)))
      }
      val storedHits = feats.select("digest")
        .join(digestsBefore(s, base, id, tdPre), Seq("digest"), "left_semi")
        .distinct().collect().map(_.getString(0)).toSet
      val ids = feats.select("doc_id").collect().map(_.getLong(0)).toSet
      val wins = if (stages.spanGrain) Some(winsOf(feats)) else None
      val (storedRuns, pairRuns) = wins match {
        case Some(w) => spanRunsOf(s, w, spansBefore(s, base, id, tdPre))
        case None => (NoRuns, NoPairRuns)
      }
      val consumed = scala.collection.mutable.Map.empty[String, Long]
      consumedBefore(s, base, id).foreach { case (l, n) => consumed(l) = n }
      val decisions = greedy(collectFeats(feats), storedHits, famPairs, ids,
        storedRuns, pairRuns, stages.spanGrain, consumed, budget)

      publishBatch(base, "manifest", id)(decisions.toDS().toDF().coalesce(1))
      val admitted = decisions.filter(_.admitted).map(_.doc_id).toSet
      val admittedDf = admitted.toSeq.toDF("doc_id")
      publishBatch(base, "digests", id)(
        decisions.filter(d => admitted(d.doc_id))
          .map(_.doc_id).toDF("doc_id")
          .join(feats.select("doc_id", "digest"), "doc_id")
          .select("doc_id", "digest").coalesce(1))
      // the span store files each admitted doc's ARRIVAL windows —
      // written every batch (possibly empty) so the tail read's
      // partition contract matches the digest store's
      wins.foreach(w => publishBatch(base, "spans", id)(
        w.join(admittedDf, Seq("doc_id"), "left_semi")
          .select("doc_id", "wh").distinct()))
      if (admitted.nonEmpty) {
        // mask each append with takedowns AFTER the pinned horizon: on a
        // crash-replay that interleaved with a takedown, the deleted docs
        // are absent from the current pillar and the plain anti-join
        // would resurrect them — decisions keep the pinned horizon, the
        // append honors every takedown committed since
        val mask = takedownsAfter(s, base, tdPre)
        fams.foreach { case (f, fam) =>
          val admittedSigs = famSigs(f)
            .join(admittedDf, Seq("doc_id"), "left_semi")
          val masked = mask.fold(admittedSigs)(td =>
            admittedSigs.join(td, Seq("doc_id"), "left_anti"))
          IndexLifecycle.appendPostings(s, familyRoot(base, f), fam.postings,
            masked)
          ()
        }
      }
      maybeSnapshot(s, base, id, snapEvery)
    } finally {
      famSigs.values.foreach { d => d.unpersist(); () }
      feats.unpersist()
      ()
    }
  }

  /** Each family's pillar root and per-batch pin directory. */
  private def familyRoot(base: String, fam: String): String =
    s"$base/${FamilyOf(fam).pillarDir}"

  private def familyPinDir(base: String, fam: String, id: Long): String =
    s"$base/${FamilyOf(fam).pinDir}/batch=$id"

  /** Install an empty v=1 pillar when none exists — the pipeline's
    * zero-state start. */
  private def ensurePillar(s: SparkSession, base: String,
                           fam: String): Unit = {
    val root = familyRoot(base, fam)
    if (IndexLifecycle.latestVersion(root).isEmpty) {
      val p = FamilyOf(fam).postings
      IndexLifecycle.installPostings(s, root, 1L, p,
        s.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType.fromDDL(p.layout.base.head.schema)),
        Seq(DedupQueries.MaxBucket))
      ()
    }
  }

  /** Publish `frame` as `base/sub/batch=id` with [[Commit.publish]]. A
    * replayed committed epoch finds the directory committed and writes
    * nothing: by the replay contract its frame is the committed one. */
  private def publishBatch(base: String, sub: String, id: Long)
                          (frame: DataFrame): Unit = {
    Commit.publish(java.nio.file.Paths.get(base, sub, s"batch=$id"))(staged =>
      frame.write.mode("overwrite").parquet(staged.toString))
    ()
  }

  /** Read-or-commit one pinned scalar at `dir`, published by
    * [[Commit.publish]]: a committed pin is whole, so one batch has one
    * pin whatever the interleaving. Returns `v` when this call published
    * it, else the committed pin a replay or a racer finds. */
  private[graft] def pinnedScalar(s: SparkSession, dir: String, colName: String)
                                 (v: Long): Long = {
    val won = Commit.publish(java.nio.file.Paths.get(dir))(staged =>
      s.range(1).select(lit(v).as(colName)).coalesce(1)
        .write.mode("overwrite").parquet(staged.toString))
    if (won) v else s.read.schema(s"$colName BIGINT").parquet(dir).head.getLong(0)
  }

  // ---------- bounded admission-state bookkeeping ----------
  //
  // The pipeline's only per-batch growth terms were digestsBefore /
  // consumedBefore re-reading EVERY prior batch=N partition (VERDICT r15
  // item 3): correct and replay-safe, but a long-running ingest paid an
  // O(batches) listing + scan tax per micro-batch. Every `snapEvery`
  // batches the pipeline now lands a consolidated SNAPSHOT of the
  // admission state (`snap/upto=N`: the RAW admitted digest set and the
  // per-lang consumed totals of all batches < N), and the per-batch
  // reads resolve one snapshot + the ≤snapEvery tail partitions, listed
  // driver-side by NIO — O(snapEvery) per batch, however long the run.
  // Replay determinism is untouched: a snapshot is a PURE FUNCTION of
  // the immutable per-batch partitions below its boundary, so whichever
  // committed snapshot ≤ id a replayed epoch resolves, the derived state
  // is bit-identical to the partition-by-partition read it replaces —
  // and takedown masking stays at read time under the epoch's PINNED
  // horizon (baking a mask into the snapshot would freeze one horizon
  // for every future epoch). The snapshot write itself is index-sized
  // (40-byte digest rows) and amortized O(size/snapEvery) per batch; the
  // per-batch READ cost is what had to stop growing.

  private def emptyDigests(s: SparkSession): DataFrame =
    s.range(0).select(lit(0L).as("doc_id"), lit("").as("digest"))

  /** Committed `batch=N` subdirectories of `base/sub` with
    * `from <= N < until`, listed driver-side (never a directory-glob
    * Spark scan — the unbounded listing was the growth term). */
  private def committedBatchDirs(base: String, sub: String, from: Long,
                                 until: Long): Seq[String] =
    Commit.numbered(java.nio.file.Paths.get(base, sub), "batch=")
      .filter(n => n >= from && n < until)
      .map(n => s"$base/$sub/batch=$n")

  /** Committed snapshot boundaries, ascending. */
  private def snapshotUptos(base: String): Seq[Long] =
    Commit.numbered(java.nio.file.Paths.get(base, "snap"), "upto=")

  /** The newest committed snapshot usable by batch `id` (boundary ≤ id).
    * Any usable snapshot derives identical state — the choice moves only
    * how many tail partitions the read unions. */
  private def snapshotFor(base: String, id: Long): Option[Long] =
    snapshotUptos(base).filter(_ <= id).maxOption

  /** Raw (takedown-unmasked) digests admitted by batches BEFORE `id`:
    * one snapshot + the tail partitions past its boundary. */
  private def rawDigestsBefore(s: SparkSession, base: String,
                               id: Long): DataFrame = {
    val snapUpto = snapshotFor(base, id)
    val tail = committedBatchDirs(base, "digests", snapUpto.getOrElse(0L), id)
    val parts = snapUpto.map(u =>
        s.read.schema("doc_id BIGINT, digest STRING")
          .parquet(s"$base/snap/upto=$u/digests")).toSeq ++
      (if (tail.isEmpty) Seq.empty
       else Seq(s.read.schema("doc_id BIGINT, digest STRING")
         .parquet(tail: _*)))
    if (parts.isEmpty) emptyDigests(s) else parts.reduce(_ unionByName _)
  }

  /** Digests of every doc admitted by batches BEFORE `id` and not since
    * taken down (tombstone sequences ≤ `tdSeq` — the pinned takedown
    * horizon, so a replayed epoch sees the same blocking set it first
    * decided against). */
  private def digestsBefore(s: SparkSession, base: String, id: Long,
                            tdSeq: Long): DataFrame = {
    val live = rawDigestsBefore(s, base, id)
    takedownsThrough(s, base, tdSeq).fold(live)(td =>
      live.join(td, Seq("doc_id"), "left_anti"))
  }

  /** Per-lang consumed totals of batches BEFORE `id` as a frame:
    * snapshot totals + the tail manifests' sums. The charge per
    * admitted doc is clean_tokens minus span_excised — exactly what the
    * greedy consumed at decision time. */
  private def rawConsumedBefore(s: SparkSession, base: String,
                                id: Long): DataFrame = {
    val snapUpto = snapshotFor(base, id)
    val tail = committedBatchDirs(base, "manifest", snapUpto.getOrElse(0L), id)
    val parts = snapUpto.map(u =>
        s.read.schema("lang STRING, n BIGINT")
          .parquet(s"$base/snap/upto=$u/consumed")).toSeq ++
      (if (tail.isEmpty) Seq.empty
       else Seq(s.read
         .schema("lang STRING, clean_tokens BIGINT, " +
           "span_excised BIGINT, admitted BOOLEAN")
         .parquet(tail: _*)
         .filter(col("admitted"))
         .groupBy("lang")
         .agg(sum(col("clean_tokens") -
           coalesce(col("span_excised"), lit(0L))).as("n"))))
    if (parts.isEmpty) s.range(0).select(lit("").as("lang"), lit(0L).as("n"))
    else parts.reduce(_ unionByName _).groupBy("lang")
      .agg(sum("n").as("n"))
  }

  private def emptySpans(s: SparkSession): DataFrame =
    s.range(0).select(lit(0L).as("doc_id"), lit(0L).as("wh"))

  /** Raw (takedown-unmasked) admitted-window rows (doc_id, wh) of
    * batches BEFORE `id` — snapshot + tail, the digest store's twin. */
  private def rawSpansBefore(s: SparkSession, base: String,
                             id: Long): DataFrame = {
    val snapUpto = snapshotFor(base, id)
    val tail = committedBatchDirs(base, "spans", snapUpto.getOrElse(0L), id)
    val parts = snapUpto.map(u =>
        s.read.schema("doc_id BIGINT, wh BIGINT")
          .parquet(s"$base/snap/upto=$u/spans")).toSeq ++
      (if (tail.isEmpty) Seq.empty
       else Seq(s.read.schema("doc_id BIGINT, wh BIGINT")
         .parquet(tail: _*)))
    if (parts.isEmpty) emptySpans(s) else parts.reduce(_ unionByName _)
  }

  /** Admitted windows visible to batch `id` under its pinned takedown
    * horizon — a taken-down doc's windows stop blocking (removed
    * content is not duplicate content, the digest-store rule). */
  private def spansBefore(s: SparkSession, base: String, id: Long,
                          tdSeq: Long): DataFrame = {
    val live = rawSpansBefore(s, base, id)
    takedownsThrough(s, base, tdSeq).fold(live)(td =>
      live.join(td, Seq("doc_id"), "left_anti"))
  }

  /** Land the consolidated admission-state snapshot at boundary
    * `id + 1` when the cadence fires. The consolidation is a rolling
    * fold — previous snapshot + its tail, never a rescan of history —
    * published by [[Commit.publish]] and idempotent (a committed
    * snapshot's content is a pure function of the immutable per-batch
    * partitions below its boundary, so a replayed boundary keeps it). */
  private def maybeSnapshot(s: SparkSession, base: String, id: Long,
                            snapEvery: Int): Unit = {
    val upto = id + 1
    if (snapEvery <= 0 || upto % snapEvery != 0) return
    Commit.publish(java.nio.file.Paths.get(s"$base/snap/upto=$upto")) { staged =>
      rawDigestsBefore(s, base, upto).write.mode("overwrite")
        .parquet(staged.resolve("digests").toString)
      rawConsumedBefore(s, base, upto).coalesce(1).write.mode("overwrite")
        .parquet(staged.resolve("consumed").toString)
      rawSpansBefore(s, base, upto).write.mode("overwrite")
        .parquet(staged.resolve("spans").toString)
    }
    ()
  }

  /** Every pillar version some committed ingest epoch pinned — the
    * retention exclusion set for the ingest pillar, exactly
    * [[IndexLifecycle.releasePinnedVersions]]'s role for releases: a
    * keep=N prune must not reclaim a version a replayed epoch would
    * re-decide against (that would break the replay-determinism
    * contract the pins exist to keep). */
  def ingestPinnedVersions(s: SparkSession, base: String,
                           fam: String = "simhash"): Set[Long] = {
    val dirs = committedBatchDirs(base, FamilyOf(fam).pinDir, 0L, Long.MaxValue)
    if (dirs.isEmpty) Set.empty
    else s.read.schema("v BIGINT").parquet(dirs: _*)
      .distinct().collect().map(_.getLong(0)).toSet
  }

  /** Retention for one family's ingest pillar, epoch pins excluded. */
  def pruneIngestPillar(s: SparkSession, base: String, keep: Int = 2,
                        fam: String = "simhash"): (Int, Int) =
    IndexLifecycle.pruneVersions(familyRoot(base, fam), keep,
      ingestPinnedVersions(s, base, fam))

  /** Tombstoned doc_ids across takedown sequences ≤ `seq`. */
  private def takedownsThrough(s: SparkSession, base: String,
                               seq: Long): Option[DataFrame] = {
    val dir = s"$base/takedowns"
    if (seq <= 0 ||
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) None
    else Some(s.read.schema("doc_id BIGINT").parquet(dir)
      .withColumn("seq",
        regexp_extract(input_file_name(), "seq=(\\d+)", 1).cast("long"))
      .filter(col("seq") <= seq).select("doc_id"))
  }

  private def committedTakedownSeqs(base: String): Seq[Long] =
    Commit.numbered(java.nio.file.Paths.get(base, "takedowns"), "seq=")

  /** The takedown horizon batch `id` decides against — recorded at first
    * processing (the max committed tombstone sequence), re-read on
    * replay: a takedown landing AFTER a batch committed must not change
    * that batch's replayed decisions. */
  private def pinnedTakedownSeq(s: SparkSession, base: String,
                                id: Long): Long =
    pinnedScalar(s, s"$base/tdv/batch=$id", "seq")(
      committedTakedownSeqs(base).maxOption.getOrElse(0L))

  /** Tombstoned doc_ids with takedown sequence STRICTLY AFTER `seq` —
    * the takedowns that landed after a batch pinned its horizon. A
    * replayed epoch masks its pillar append with these: the takedown
    * already removed those docs from the pillar, so a replay whose
    * anti-join sees them absent would silently RE-APPEND (resurrect)
    * deleted content — the append must stay a no-op for them while the
    * batch's admission decisions keep their pinned horizon. */
  private def takedownsAfter(s: SparkSession, base: String,
                             seq: Long): Option[DataFrame] = {
    val dir = s"$base/takedowns"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) None
    else Some(s.read.schema("doc_id BIGINT").parquet(dir)
      .withColumn("seq",
        regexp_extract(input_file_name(), "seq=(\\d+)", 1).cast("long"))
      .filter(col("seq") > seq).select("doc_id"))
  }

  /** TAKEDOWN PROPAGATION for the composed ingest — the delete verb that
    * closes the admission lifecycle: the deleted docs leave the postings
    * pillar (so future batches' near-dup stage stops pairing against
    * them — [[IndexLifecycle.takedownPostings]]'s consolidated
    * survivor commit) and a doc_id tombstone sequence masks their
    * digests (so a re-offered verbatim copy of REMOVED content is
    * admittable again — removed content is not duplicate content).
    * Admission manifests stay untouched: decisions already made are
    * historical facts, and consumed budget is NOT refunded (the budget
    * accounts what was ingested over time). Replay stays deterministic
    * both ways: in-flight and replayed epochs decide against their
    * PINNED pillar version and takedown horizon, so a takedown landing
    * mid-stream changes only batches first processed after it. Returns
    * the committed tombstone sequence: the next free one, published by
    * [[Commit.publish]], so a failed write leaves no sequence behind and
    * a racer that takes a sequence first moves this call to the next. */
  def ingestTakedown(s: SparkSession, base: String,
                     deleted: DataFrame): Long = {
    val ids = deleted.select(col("doc_id")).distinct().coalesce(1)
    @scala.annotation.tailrec
    def land(): Long = {
      val seq = committedTakedownSeqs(base).maxOption.getOrElse(0L) + 1
      val won = Commit.publish(java.nio.file.Paths.get(base, "takedowns", s"seq=$seq"))(
        staged => ids.write.mode("overwrite").parquet(staged.toString))
      if (won) seq else land()
    }
    val seq = land()
    IndexLifecycle.takedownPostings(s, familyRoot(base, "simhash"),
      IndexLifecycle.SimhashPostings, deleted)
    seq
  }

  /** Per-lang tokens consumed by batches BEFORE `id`, re-derived from
    * durable state (snapshot + tail manifests — never from mutable
    * driver state). */
  private def consumedBefore(s: SparkSession, base: String,
                             id: Long): Map[String, Long] =
    rawConsumedBefore(s, base, id).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The union manifest of a (possibly restarted) run, ordered by
    * doc_id — what the spec compares against [[ingestAdmitBatch]]. */
  def manifestOf(s: SparkSession, base: String): DataFrame =
    s.read.parquet(s"$base/manifest")
      .select("doc_id", "lang", "n_tokens", "excised_tokens",
        "clean_tokens", "exact_dup", "near_dup", "over_budget", "admitted",
        "span_excised", "dup_families")
      .orderBy("doc_id")
}

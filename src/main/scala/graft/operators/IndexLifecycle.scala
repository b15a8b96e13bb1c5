package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.Commit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The versioned index store: the trained and derived artifacts the ANN
  * and near-dup serves read, installed atomically, audited against the
  * current corpus and replaced when they drift, so readers always see
  * one complete index (old or new, never neither, never half-written).
  *
  * Store layout: each pillar has its own root of `root/v=N` version
  * directories, each committed whole by [[graft.Commit.publish]]; readers
  * load the highest committed version (or the one a release pins), so a
  * reader concurrent with a swap sees exactly one complete version. A
  * version holds one of three shapes:
  *  - a quantizer pillar ([[Quantizer]]): the trained artifact
  *    (`centroids` or `codebook`) and its install-time `baseline`
  *    measure, as parquet directories inside the version;
  *  - a dial pillar ([[Dial]]): the one-row serving value and the dial
  *    frame it was chosen on;
  *  - a manifest pillar (the served PQ index, the [[Postings]] pillars):
  *    a `manifest.tsv` naming the immutable segments under
  *    `root/segments/` that compose every artifact of its layout, base
  *    and derived, next to the version's KB-scale scalars (cfg, and the
  *    PQ index's `baseline` and `meta`).
  *
  * The drift audits generalize q241/q245: instead of comparing two data
  * epochs through a frozen index, they compare the CURRENT corpus against
  * the measure recorded when the installed version was trained — the
  * operational retrain trigger (a fresh index is green by construction
  * because its baseline IS the current distribution), while q241/q245's
  * epoch-parity forms remain the oracle-checked batch audits.
  *
  * Scale: quantizers, baselines and scalars are KB-scale artifacts; the
  * only corpus-sized work is the assignment scan the audit shares with
  * every index build, installs move directories, and corpus-sized
  * artifacts carry across versions by manifest reference, never by copy.
  */
object IndexLifecycle {

  /** ppm cell-mass shift at which a cell flags for retrain — literally
    * q241's trigger (one constant; a threshold tweak moves the batch audit
    * and this closed loop together, never one without the other). */
  val RebalancePpm: Long = RefineQueries.RebalancePpm

  // ---------- store ----------

  /** Highest committed version, if any. */
  def latestVersion(root: String): Option[Long] =
    Commit.numbered(Paths.get(root), "v=").lastOption

  // ---------- quantizer pillars: centroids and codebooks ----------
  //
  // The composed IVF-PQ index (q249) has two trained artifacts — the
  // coarse quantizer's centroids (drift monitor q241) and the product
  // quantizer's codebooks (drift monitor q245). Each lives in its own
  // root, so either pillar hot-swaps independently and a reader composes
  // whatever pair is installed at read time — each complete by itself.
  // The two differ only in their [[Quantizer]] descriptor. Retraining
  // runs the q86/q236 trainers; search against an installed version
  // rides the very plans q66/q249 ship, so results change ONLY through
  // the installed artifact.

  /** A quantizer pillar: the trained `artifact`, and the `baseline`
    * artifact holding `measure(vectors, artifact)` of the training corpus
    * — one row per `keyCol` with its `valueCol`. The drift audit names
    * the two readings `baseline_<valueCol>` and `current_<valueCol>`,
    * their absolute difference `shiftCol`, and `flagCol` =
    * `flagRule(shift, baseline)`. `train` builds the artifact from
    * `vectors(vec_id, v)` and a trainer parameter `P`. */
  final case class Quantizer[P](artifact: String, baseline: String,
                                keyCol: String, valueCol: String,
                                shiftCol: String, flagCol: String,
                                measure: (DataFrame, DataFrame) => DataFrame,
                                flagRule: (Column, Column) => Column,
                                train: (SparkSession, DataFrame, P) => DataFrame)

  /** The coarse quantizer (cent_id, cv, cn): the cell-mass baseline
    * (cent_id, n, ppm) under nearest-centroid assignment, flagged by
    * q241's ppm shift; trained by k-means with `k` cells. */
  val Centroids: Quantizer[Int] = Quantizer("centroids", "baseline",
    "cent_id", "ppm", "shift_ppm", "rebalance",
    (vectors, cents) => cellPpm(assign(vectors, cents), cents),
    (shift, _) => shift > RebalancePpm,
    (s, vectors, k) => train(s, vectors, k))

  /** The product quantizer (m, cent_id, csub, crk): the per-subspace mean
    * quantization error baseline (m, n, merr_u), flagged by q245's
    * 2.5%-relative rule ([[RefineQueries.PqDriftDenom]]); trained by the
    * q236 share-form trainer. */
  val Codebook: Quantizer[Unit] = Quantizer("codebook", "errbase",
    "m", "merr_u", "shift_u", "retrain",
    codebookErrU,
    (shift, base) => shift * RefineQueries.PqDriftDenom > base,
    (_, vectors, _) => trainCodebook(vectors))

  /** The artifact of a SPECIFIC committed version. */
  def readQuantizerAt(s: SparkSession, root: String, q: Quantizer[_],
                      v: Long): DataFrame =
    s.read.parquet(s"$root/v=$v/${q.artifact}")

  /** The latest committed artifact. */
  def readQuantizer(s: SparkSession, root: String,
                    q: Quantizer[_]): DataFrame =
    readQuantizerAt(s, root, q, latestIndex(root))

  /** Install `artifact` as `version`, recording the descriptor's measure
    * of `vectors(vec_id, v)` under it as the baseline. Atomic (staging dir
    * + rename); idempotent — an already-committed version returns false
    * untouched. `interpose` is a test seam called at "staged" (artifacts
    * complete, not yet visible) and "installed". */
  def installQuantizer(s: SparkSession, root: String, version: Long,
                       q: Quantizer[_], artifact: DataFrame,
                       vectors: DataFrame,
                       interpose: String => Unit = _ => ()): Boolean =
    Commit.publish(Paths.get(root, s"v=$version"), interpose) { staging =>
      artifact.write.mode("overwrite")
        .parquet(staging.resolve(q.artifact).toString)
      // the baseline reads the artifact back from STAGING: the recorded
      // measure provably describes the exact artifact being installed,
      // not the in-memory frame (whose lineage could recompute
      // differently)
      val staged = s.read.parquet(staging.resolve(q.artifact).toString)
      q.measure(vectors, staged)
        .write.mode("overwrite").parquet(staging.resolve(q.baseline).toString)
    }

  /** Per-key drift of `vectors`' current measure vs the installed
    * version's training-time baseline, both read from ONE resolved
    * version: (key, baseline_<value>, current_<value>, shift, flag).
    * Green right after a retrain by construction — the baseline IS the
    * refreshed corpus. */
  def quantizerDriftAudit(s: SparkSession, root: String, q: Quantizer[_],
                          vectors: DataFrame): DataFrame = {
    val v = latestIndex(root)
    drift(q, readQuantizerAt(s, root, q, v),
      s.read.parquet(s"$root/v=$v/${q.baseline}"), vectors)
  }

  /** The audit of `vectors` against an artifact and its baseline frame. */
  private def drift(q: Quantizer[_], artifact: DataFrame,
                    baseline: DataFrame, vectors: DataFrame): DataFrame = {
    val (base, cur) = (s"baseline_${q.valueCol}", s"current_${q.valueCol}")
    val current = q.measure(vectors, artifact)
      .select(col(q.keyCol), col(q.valueCol).as(cur))
    baseline.select(col(q.keyCol), col(q.valueCol).as(base))
      .join(current, q.keyCol)
      .withColumn(q.shiftCol, abs(col(cur) - col(base)))
      .withColumn(q.flagCol, q.flagRule(col(q.shiftCol), col(base)))
      .orderBy(q.keyCol)
  }

  /** The closed loop: audit the installed version against `vectors`; if
    * any key flags, retrain on the current corpus (`param` goes to the
    * descriptor's trainer) and install the next version atomically.
    * Returns the new version when a retrain happened. */
  def retrainQuantizer[P](s: SparkSession, root: String, q: Quantizer[P],
                          vectors: DataFrame, param: P): Option[Long] = {
    val flagged = quantizerDriftAudit(s, root, q, vectors)
      .filter(col(q.flagCol)).limit(1).count() > 0
    if (!flagged) None
    else {
      val next = latestVersion(root).getOrElse(0L) + 1
      installQuantizer(s, root, next, q, q.train(s, vectors, param), vectors)
      Some(next)
    }
  }

  // ---------- the quantizers' measures and trainers ----------

  /** (vec_id, cent_id): nearest-centroid cosine assignment of
    * `vectors(vec_id, v)` — the q66 shape (broadcast centroids, map-side
    * max-struct collapse, ties to the larger cent_id). */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dotd
    val n = vectors.select(col("vec_id"), col("v"))
      .withColumn("nrm", sqrt(dotd(col("v"), col("v"))))
    val cc = dotd(col("v"), col("cv")) / (col("nrm") * col("cn"))
    n.crossJoin(broadcast(centroids))
      .groupBy("vec_id")
      // k=1 heap argmax — same (cc DESC, cent_id DESC) winner as the old
      // max(struct); see SimilarityQueries.ivfAssignOf for the rationale
      .agg(graft.functions.Sketches.topPairs(cc, -col("cent_id"), 1).as("tp"))
      .select(col("vec_id"), (-element_at(col("tp.id"), 1)).as("cent_id"))
  }

  /** (cent_id, n, ppm) over ALL cells of `centroids` — zero-mass cells
    * included (a cell emptying out is exactly the drift signal). */
  def cellPpm(assigned: DataFrame, centroids: DataFrame): DataFrame =
    ppmOf(centroids.select(col("cent_id"))
      .join(assigned.groupBy("cent_id").agg(count(lit(1)).as("n")),
        Seq("cent_id"), "left")
      .select(col("cent_id"), coalesce(col("n"), lit(0L)).as("n")))

  /** (cent_id, n, ppm) of per-cell masses `cells(cent_id, n)`. The total
    * rides a single-series window over the cells-sized frame (q241's
    * post-agg pattern — index metadata, never corpus rows). */
  private def ppmOf(cells: DataFrame): DataFrame =
    cells.withColumn("t", sum(col("n")).over(Window.partitionBy(lit(1))))
      .select(col("cent_id"), col("n"),
        expr("(1000000 * n) div nullif(t, 0)").as("ppm"))

  /** k-means centroids of `vectors(vec_id, v)` in store schema
    * (cent_id, cv, cn) — the q86 trainer feeding the store. */
  def train(s: SparkSession, vectors: DataFrame, k: Int,
            maxIter: Int = 10): DataFrame = {
    import graft.functions.VectorFunctions.dotd
    val (cents, _) = ClusterQueries.kmeans(
      vectors.select(col("vec_id").as("id"), col("v")), k, maxIter)
    cents.select(col("cid").as("cent_id"), col("c").as("cv"),
      sqrt(dotd(col("c"), col("c"))).as("cn"))
  }

  /** (m, n, merr_u): per-subspace mean quantization error of
    * `vectors(vec_id, v)` under `codebook` — q245's exact arithmetic
    * (min-L2 assignment with ties to the larger cent_id, per-vector error
    * FLOORED to integer micros before the sum, integer mean) so the
    * lifecycle audit and the batch audit read the same dial. */
  def codebookErrU(vectors: DataFrame, codebook: DataFrame): DataFrame = {
    // native fused Σ(a−b)² — see SimilarityQueries.pqCodesFrom; values
    // are bit-identical to the declarative HOF form
    val l2 = graft.functions.VectorFunctions.sqdistd(col("sv"), col("csub"))
    SimilarityQueries.pqSubsOf(vectors)
      .join(broadcast(codebook), "m")
      .select(col("vec_id"), col("m"), l2.as("l2"), col("cent_id"))
      .groupBy("vec_id", "m")
      // k=1 heap argmin — (−l2 DESC, −cent ASC) is min(struct(l2, negc));
      // the winning error is recovered from the heap's score
      .agg(graft.functions.Sketches.topPairs(-col("l2"), -col("cent_id"), 1)
        .as("tp"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        floor(-element_at(col("tp.score"), 1) * 1000000d).cast("long")
          .as("err_u"))
      .groupBy("m")
      .agg(count(lit(1)).as("n"),
        expr("sum(err_u) div nullif(count(1), 0)").as("merr_u"))
      .orderBy("m")
  }

  /** Codebook in store schema from `vectors(vec_id, v)` — the q236
    * trainer ([[SimilarityQueries.pqCodebookOf]]) feeding the store. */
  def trainCodebook(vectors: DataFrame): DataFrame =
    SimilarityQueries.pqCodebookOf(SimilarityQueries.pqSubsOf(vectors))

  // ---------- consumers of the quantizer pillars ----------
  //
  // Retrieval is not the centroid pillar's only reader: the SELECTION
  // family (SemDeDup q230, prototypicality q232) and the FILTERED search
  // (q255) cluster through the same centroid artifact. Routing them
  // through the store means ONE hot-swap moves membership, pruning and
  // retrieval together — a live-only copy of the cluster structure in
  // any consumer would silently drift from the version the operators
  // audit.

  /** Search the corpus at `dir` through the INSTALLED index — q66's exact
    * plan with the store's centroid frame in place of the LCG sample. */
  def search(s: SparkSession, root: String, dir: String,
             probes: Int = SimilarityQueries.IvfProbes): DataFrame =
    SimilarityQueries.ivfTopKFrom(s, dir, readQuantizer(s, root, Centroids),
      probes)

  /** q230's SemDeDup verdict with cluster structure from the INSTALLED
    * centroid pillar — the exact q230 pipeline over
    * [[SelectionQueries.assignedFrom]]. */
  def semDedupAt(s: SparkSession, root: String, dir: String): DataFrame =
    SelectionQueries.semDedupOf(SelectionQueries.assignedFrom(s, dir,
      readQuantizer(s, root, Centroids)))

  /** q232's prototypicality pruning through the INSTALLED centroid
    * pillar. */
  def prototypicalityAt(s: SparkSession, root: String, dir: String): DataFrame =
    SelectionQueries.prototypicalityOf(SelectionQueries.assignedFrom(s, dir,
      readQuantizer(s, root, Centroids)))

  /** q255's label-filtered search through the INSTALLED centroid pillar. */
  def searchFiltered(s: SparkSession, root: String, dir: String,
                     probes: Int = SimilarityQueries.IvfProbes): DataFrame =
    SimilarityQueries.ivfFilteredTopKFrom(s, dir,
      readQuantizer(s, root, Centroids), probes)

  /** Search the corpus at `dir` through BOTH installed pillars — q249's
    * exact plan with the stores' centroid and codebook frames in place of
    * the LCG samples. */
  def searchPq(s: SparkSession, centsRoot: String, codebookRoot: String,
               dir: String,
               probes: Int = SimilarityQueries.IvfProbes): DataFrame =
    searchPqOf(s, dir, readQuantizer(s, centsRoot, Centroids),
      readQuantizer(s, codebookRoot, Codebook), probes)

  /** q249's plan over installed quantizer frames. The pillar-backed
    * codebook's one count() is the sanctioned KB-scale control-plane
    * read, and passing it keeps the share-form footer fallback (which
    * could needlessly demote a small installed book's broadcast) out of
    * the pillar path. */
  private def searchPqOf(s: SparkSession, dir: String, cents: DataFrame,
                         book: DataFrame, probes: Int): DataFrame =
    SimilarityQueries.ivfPqTopKFrom(s, dir, cents, book, probes,
      knownCodebookRows = Some(book.count()))

  // ---------- the SERVED index pillar: stored PQ codes ----------
  //
  // The centroid and codebook pillars version the QUANTIZERS; what a
  // production deployment actually serves is the CODED TABLE derived
  // from them — FAISS's .index file is quantizers + codes in one
  // artifact. Every read-through above re-derives the codes from the
  // corpus per query, which is correct but pays the whole index build on
  // every search (measured: q280's decade-2 wall-clock is build-
  // dominated). This pillar persists (vec_id, cd, cent_id) PARTITIONED
  // BY cent_id next to copies of the EXACT centroid and codebook frames
  // it was coded with, so one v=N directory is a self-consistent serving
  // artifact — a query LUT can never address codes trained by a
  // different book, and the probed-cell join prunes whole partitions of
  // the stored scan. Same Commit.publish rule as every pillar.

  // The served index's artifacts, in manifest order: the quantizer
  // frames it was coded with, then the codes, partitioned by cell.
  private val PqCents =
    Art("centroids", "cent_id BIGINT, cv ARRAY<DOUBLE>, cn DOUBLE", Nil)
  private val PqBook = Art("codebook",
    "m INT, cent_id BIGINT, csub ARRAY<DOUBLE>, crk BIGINT", Nil)
  private val PqCodes = Art("codes",
    "vec_id BIGINT, cd ARRAY<BIGINT>, cent_id BIGINT", Seq("cent_id"))
  private val PqArts = Seq(PqCents, PqBook, PqCodes)

  /** The 1-row `meta` sizing record — codebook_rows is what the serve
    * path's broadcast gate reads, so a search never launches a job
    * against the quantizer frames just to size a hint. */
  private val PqMetaCols = Seq("codebook_rows", "cents_rows", "code_rows")

  /** Install the complete serving index coded from `dir` under the given
    * quantizer frames. The codes are derived from the WRITTEN copies of
    * the quantizers (the [[installQuantizer]] rule: the recorded artifact
    * provably describes what was installed, not an in-memory lineage
    * that could recompute differently). */
  def installPqIndex(s: SparkSession, root: String, version: Long,
                     cents: DataFrame, codebook: DataFrame, dir: String,
                     interpose: String => Unit = _ => ()): Boolean =
    Commit.publish(Paths.get(root, s"v=$version"), interpose) { staging =>
      val centSeg = writeArt(root, PqCents, cents)
      val bookSeg = writeArt(root, PqBook, codebook)
      // with immutable segments the written quantizers are literally the
      // same files every later version referencing them will serve
      val sc = segFrame(s, root, PqCents, centSeg)
      val sb = segFrame(s, root, PqBook, bookSeg)
      val codeSeg = writeArt(root, PqCodes,
        SimilarityQueries.pqIndexRows(s, dir, sc, sb))
      val staged = segFrame(s, root, PqCodes, codeSeg)
      writePqBaseline(s, staging, staged, sc)
      writeScalars(s, staging, "meta", PqMetaCols,
        Seq(sb.count(), sc.count(), staged.count()))
      writeManifest(staging, Seq(centSeg, bookSeg, codeSeg))
    }

  /** The install-time cell-mass baseline of the codes being committed —
    * cells-sized, materialized inside the version directory. */
  private def writePqBaseline(s: SparkSession, staging: Path,
                              codes: DataFrame, sc: DataFrame): Unit =
    cellPpm(codes.select("vec_id", "cent_id"), sc).write.mode("overwrite")
      .parquet(staging.resolve(Centroids.baseline).toString)

  /** The latest committed serving index: (codes, centroids, codebook). */
  def readPqIndex(s: SparkSession, root: String)
      : (DataFrame, DataFrame, DataFrame) =
    readPqIndexAt(s, root, latestIndex(root))

  /** A SPECIFIC committed version's serving index — every consumer that
    * reads more than one artifact of the pillar goes through this so all
    * its reads resolve to the same v=N manifest. */
  def readPqIndexAt(s: SparkSession, root: String, v: Long)
      : (DataFrame, DataFrame, DataFrame) =
    (readArtifact(s, root, v, PqCodes), readArtifact(s, root, v, PqCents),
      readArtifact(s, root, v, PqBook))

  /** q249's search served FROM the installed index: stored codes, stored
    * quantizers, zero per-query re-coding — the production read path.
    * The qside broadcast is gated by the installed codebook's size read
    * from the version's `meta` record: no Spark job runs before the
    * query itself. */
  def searchPqIndex(s: SparkSession, root: String, dir: String,
                    probes: Int = SimilarityQueries.IvfProbes,
                    panelIdCap: Option[Long] = None): DataFrame =
    searchPqIndexAtVersion(s, root, latestIndex(root), dir, probes,
      panelIdCap)

  private def searchPqIndexAtVersion(s: SparkSession, root: String, v: Long,
                                     dir: String, probes: Int,
                                     panelIdCap: Option[Long]): DataFrame = {
    val (codes, cents, book) = readPqIndexAt(s, root, v)
    // a capped panel bounds the query count by construction (the % 50
    // stride under the cap — q279/q280's fixed-workload posture); only
    // the share-form panel scales with the corpus footer count
    val nQueries = panelIdCap.map(_ / 50 + 1).getOrElse(
      graft.Tables.parquetRowCount(s, dir, "embeddings") / 50 + 1)
    SimilarityQueries.ivfPqServe(s, dir, codes, cents, book, probes,
      estBytes =
        nQueries * probes * 8L * scalarsAt(s, root, v, "meta", PqMetaCols).head,
      panelIdCap)
  }

  /** The centroid pillar's drift audit ([[quantizerDriftAudit]]) run over
    * the served index's stored centroids and install-time cell masses,
    * against the CURRENT corpus at `dir`. A corpus that grew or shifted
    * since install codes new arrivals into cells the served index sized
    * differently; the flag is the rebuild trigger. The version is
    * resolved ONCE — centroids and baseline always come from the same
    * v=N directory, even with a concurrent install committing v=N+1
    * mid-audit. */
  def pqIndexDriftAudit(s: SparkSession, root: String,
                        dir: String): DataFrame = {
    val v = latestIndex(root)
    val (_, cents, _) = readPqIndexAt(s, root, v)
    drift(Centroids, cents,
      s.read.parquet(s"$root/v=$v/${Centroids.baseline}"),
      SimilarityQueries.normed(s, dir).select(col("vec_id"), col("v")))
  }

  /** The closed loop for the served index: audit against the current
    * corpus; if any cell flags, retrain BOTH quantizers on it and
    * install the next version's complete coded artifact atomically.
    * Green right after a rebuild by construction.
    *
    * `trainCents`/`trainBook` PRESERVE THE INSTALLED DIALS across the
    * rebuild: an index installed with the fixed production quantizers
    * (q281's ≤256-entry codebook, ⌊√n⌋ cells) must not silently swap its
    * serving contract to the share-form ~n/31-entry trainer on the first
    * drift — the one-byte-code / broadcast-survives-by-construction
    * properties the fixed forms exist for would be lost. Callers pass
    * the trainers the pillar was installed with; the defaults are the
    * descriptors' share-form q86/q236 trainers (the live q249 contract). */
  def rebuildPqIndexIfDrifted(s: SparkSession, root: String, dir: String,
                              k: Int,
                              trainCents: Option[String => DataFrame] = None,
                              trainBook: Option[String => DataFrame] = None)
      : Option[Long] = {
    val flagged = pqIndexDriftAudit(s, root, dir)
      .filter(col(Centroids.flagCol)).limit(1).count() > 0
    if (!flagged) None
    else {
      def vectors = SimilarityQueries.normed(s, dir)
        .select(col("vec_id"), col("v"))
      val cents = trainCents.map(_(dir))
        .getOrElse(Centroids.train(s, vectors, k))
      val book = trainBook.map(_(dir))
        .getOrElse(Codebook.train(s, vectors, ()))
      val next = latestVersion(root).getOrElse(0L) + 1
      installPqIndex(s, root, next, cents, book, dir)
      Some(next)
    }
  }

  /** INCREMENTAL index maintenance — the append path a production corpus
    * takes between quantizer drifts: code only the vec_ids NOT yet in
    * the installed version against the INSTALLED quantizers (no retrain,
    * no corpus-wide re-code) and commit stored ∪ delta as v=N+1 under
    * the same Commit.publish rule. The delta discovery is an id-only
    * anti-join (8-byte rows both sides); the stored codes and quantizer
    * frames carry by MANIFEST REFERENCE — the commit writes ONE
    * delta-sized code segment plus the KB-scale baseline/meta, never a
    * copy of the index (the r14 advisory: at 100 TB a nightly 64-doc
    * append cannot copy the index; r14's measured file copy is now zero
    * bytes). The baseline rolls forward incrementally — prior per-cell
    * masses + the delta's cell counts, through [[cellPpm]]'s ppm step,
    * cells+delta-sized work — and meta's code_rows adds the delta count,
    * so neither re-reads the carried codes. Returns the new version, or
    * None ONLY when no new vec_ids exist (the replay no-op); losing the
    * v=N+1 commit race re-resolves and re-drives instead of reporting a
    * bogus no-op. Quantizer drift still takes [[rebuildPqIndexIfDrifted]]
    * — append extends cells, it never moves them. */
  def appendPqIndex(s: SparkSession, root: String,
                    dir: String): Option[Long] = retryVersionRace { () =>
    val v = latestIndex(root)
    val (codes, cents, book) = readPqIndexAt(s, root, v)
    val fresh = SimilarityQueries.normed(s, dir)
      .select(col("vec_id"), col("v"))
      .join(codes.select("vec_id"), Seq("vec_id"), "left_anti")
    if (fresh.limit(1).count() == 0) Right(None)
    else {
      // the delta codes against the INSTALLED quantizer segments (the
      // install rule — immutable segments ARE the installed artifact)
      val deltaSeg = writeArt(root, PqCodes,
        SimilarityQueries.pqIndexRowsOf(fresh, cents, book)
          .select("vec_id", "cd", "cent_id"))
      val delta = segFrame(s, root, PqCodes, deltaSeg)
      publishNext(root, v) { staging =>
        ppmOf(s.read.parquet(s"$root/v=$v/${Centroids.baseline}")
          .select(col("cent_id"), col("n"))
          .join(delta.groupBy("cent_id").agg(count(lit(1)).as("dn")),
            Seq("cent_id"), "left")
          .select(col("cent_id"),
            (col("n") + coalesce(col("dn"), lit(0L))).as("n")))
          .write.mode("overwrite")
          .parquet(staging.resolve(Centroids.baseline).toString)
        val m = scalarsAt(s, root, v, "meta", PqMetaCols)
        writeScalars(s, staging, "meta", PqMetaCols,
          Seq(m(0), m(1), m(2) + delta.count()))
        writeManifest(staging,
          carriedRefs(root, v, PqArts.map(_.name)) :+ deltaSeg)
      }
    }
  }

  /** The prior-version references an append/takedown carries forward —
    * zero data bytes, just manifest lines. */
  private def carriedRefs(root: String, v: Long,
                          artifacts: Seq[String]): Seq[(String, String)] =
    artifacts.flatMap(a => artifactRefs(root, v, a).map(a -> _))

  /** KB-scale scalar carry ONLY (capcfg/lshcfg — one small parquet file).
    * Corpus-sized artifacts never pass through here: they carry across
    * versions by MANIFEST REFERENCE to immutable segments (below), the
    * deployment form the r14 copy-per-version advisory named — an append
    * or cap swap commits O(delta) bytes, not a fresh copy of the index. */
  private def copyTree(src: Path, dst: Path): Unit = {
    val st = Files.walk(src)
    try st.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }

  // ---------- manifest-referenced segment store ----------
  //
  // The version-commit discipline for CORPUS-SIZED artifacts (VERDICT r14
  // item 1): a version directory never materializes its big artifacts —
  // it holds a `manifest.tsv` listing the immutable SEGMENT directories
  // (under `root/segments/`) that compose each artifact, plus its own
  // KB-scale scalars. Writers append a delta segment and commit a new
  // manifest = prior references + delta reference, so
  //   - an append/cap-swap commit writes O(delta) bytes (a cap swap
  //     writes ZERO data bytes — same segments, new capcfg);
  //   - segments are write-once: concurrent readers of any committed
  //     version see immutable files, and the publish of the version
  //     directory is still the only visibility event;
  //   - disk holds ONE copy of the index regardless of how many versions
  //     reference it, and [[pruneVersions]] reclaims segments no kept
  //     manifest references.
  // Every commit names every artifact of its layout, base and derived, so
  // readers resolve an artifact to its segment paths and union the
  // per-segment scans (one scan node per segment — partition pruning on
  // band/tbl/bkt/cent_id pushes into EACH scan; [[compactPillar]] bounds
  // the fan-in after many appends, the LSM discipline).

  private val ManifestFile = "manifest.tsv"

  /** Write `df` as one immutable segment of artifact `a` under
    * `root/segments/` — invisible to readers until a committed manifest
    * references it (a failed or race-losing commit leaves an orphan for
    * [[gcOrphanSegments]]). Returns its manifest entry: the artifact
    * name and the root-relative reference. */
  private def writeArt(root: String, a: Art,
                       df: DataFrame): (String, String) = {
    val segs = Paths.get(root).resolve("segments")
    Files.createDirectories(segs)
    val seg = Files.createTempDirectory(segs, s"${a.name}-")
    val w = df.write.mode("overwrite")
    (if (a.parts.nonEmpty) w.partitionBy(a.parts: _*) else w)
      .parquet(seg.toString)
    a.name -> s"segments/${seg.getFileName}"
  }

  private def writeManifest(staging: Path,
                            entries: Seq[(String, String)]): Unit = {
    Files.write(staging.resolve(ManifestFile),
      entries.map { case (a, p) => s"$a\t$p" }.asJava)
    ()
  }

  /** The committed manifest of v=N as (artifact, segment) entries — none
    * for the stores that keep no manifest (quantizer, dial and release
    * roots). Driver-side NIO on a KB file, never a Spark job (the catalog
    * sweep's serve-path rule). */
  private def manifestEntries(root: String, v: Long): Seq[(String, String)] = {
    val mf = Paths.get(s"$root/v=$v/$ManifestFile")
    if (!Files.exists(mf)) Nil
    else Files.readAllLines(mf).asScala.toSeq.map { l =>
      val t = l.split("\t", 2); (t(0), t(1))
    }
  }

  /** Segment references composing `artifact` at v=N, root-relative. */
  private def artifactRefs(root: String, v: Long,
                           artifact: String): Seq[String] =
    manifestEntries(root, v).collect { case (a, p) if a == artifact => p }

  /** One artifact of v=N as a DataFrame: per-segment scans unioned, so a
    * partition filter (band/tbl/bkt/cent_id) prunes inside EVERY
    * segment. Explicit schema — an empty pillar has file-less segments
    * that inference cannot read. */
  private def readArtifact(s: SparkSession, root: String, v: Long,
                           a: Art): DataFrame =
    artifactRefs(root, v, a.name)
      .map(r => s.read.schema(a.schema).parquet(s"$root/$r"))
      .reduce(_ unionByName _)

  /** Retention: delete all version directories older than the newest
    * `keep` (and not in `pinned` — a RELEASE that pins an old version
    * keeps it servable; pass [[releasePinnedVersions]]), then every
    * segment those dropped manifests referenced that no KEPT manifest
    * still references — provably dead bytes only (an unreferenced
    * segment still being staged by an in-flight commit is NOT touched
    * here; that is [[gcOrphanSegments]]'s age-gated job). Returns
    * (version dirs deleted, segment dirs deleted). Readers pinned to a
    * dropped, unpinned version lose it — retention is an explicit
    * maintenance verb, run when no reader holds versions that old. */
  def pruneVersions(root: String, keep: Int = 2,
                    pinned: Set[Long] = Set.empty): (Int, Int) = {
    val vs = Commit.numbered(Paths.get(root), "v=")
    val keptVs = (vs.takeRight(keep.max(1)) ++ vs.filter(pinned)).distinct
    val dropVs = vs.filterNot(keptVs.contains)
    def refs(v: Seq[Long]): Set[String] =
      v.flatMap(x => manifestEntries(root, x).map(_._2)).toSet
    val deadSegs = refs(dropVs) -- refs(keptVs)
    dropVs.foreach(v => Commit.delete(Paths.get(s"$root/v=$v")))
    deadSegs.foreach(r => Commit.delete(Paths.get(s"$root/$r")))
    (dropVs.size, deadSegs.size)
  }

  /** Reclaim segments referenced by NO remaining manifest — the debris
    * of failed or race-losing commits. Age-gated (`minAgeMs` since last
    * modification) so an in-flight commit's freshly written segments are
    * never swept from under its not-yet-visible manifest. Returns the
    * number of segment directories deleted. */
  def gcOrphanSegments(root: String, minAgeMs: Long = 3600000L): Int = {
    val segDir = Paths.get(root).resolve("segments")
    if (!Files.exists(segDir)) return 0
    val live = Commit.numbered(Paths.get(root), "v=")
      .flatMap(v => manifestEntries(root, v).map(_._2.stripPrefix("segments/")))
      .toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val st = Files.list(segDir)
    val dead =
      try st.iterator().asScala
        .filter(Files.isDirectory(_))
        .filterNot(p => live.contains(p.getFileName.toString))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toSeq
      finally st.close()
    dead.foreach(Commit.delete)
    dead.size
  }

  /** Drive a maintenance attempt until it commits or reports a TRUE
    * no-op: `step` resolves the current latest version and returns
    * Right(outcome); Left(()) means the v=N+1 commit lost a race to a
    * concurrent writer — the loser re-resolves and re-drives against the
    * new state instead of masquerading as a no-op (the r14 advisory: a
    * nightly append must not report "no change" while a batch with
    * genuinely new arrivals was dropped — on re-drive, rows the racer
    * already admitted fall out of the delta and the rest still commit).
    * Four attempts at most. */
  private def retryVersionRace[A](step: () => Either[Unit, A]): A =
    Iterator.continually(step()).take(4).collectFirst { case Right(a) => a }
      .getOrElse(throw new IllegalStateException(
        "version-commit race unresolved after 4 attempts"))

  /** The full maintenance decision a nightly pass runs: quantizer drift
    * → complete rebuild (dial-preserving via the trainer seams); no
    * drift but new arrivals → incremental append; neither → no-op.
    * Returns (new version, "rebuild" | "append") when anything changed. */
  def maintainPqIndex(s: SparkSession, root: String, dir: String, k: Int,
                      trainCents: Option[String => DataFrame] = None,
                      trainBook: Option[String => DataFrame] = None)
      : Option[(Long, String)] =
    rebuildPqIndexIfDrifted(s, root, dir, k, trainCents, trainBook)
      .map((_, "rebuild"))
      .orElse(appendPqIndex(s, root, dir).map((_, "append")))

  // ---------- dial pillars ----------
  //
  // A dial pillar versions ONE serving scalar — the SimHash, MinHash and
  // CDC bucket caps, the IVF probe depth, the LSH table count — with the
  // vector pillars' discipline: the scalar is an index artifact the
  // moment it gates which pairs or neighbors a reader sees, so it is
  // installed with the dial frame that chose it (the recall evidence),
  // audited against the current corpus, recalibrated when it sags, and
  // read through the store. The five pillars differ only in their
  // [[Dial]] descriptor.

  /** A dial pillar: the `cfg` artifact holding the one `valueCol`
    * scalar, the `dial` artifact holding the install-time dial frame
    * (value, exact_cnt, hits, recall_ppm, meets_floor, chosen), the dial
    * frame over a corpus input `A`, and the read the installed value
    * serves — the store is the only path by which a recalibration
    * changes what readers see. */
  final case class Dial[A](cfg: String, dial: String, valueCol: String,
                           frame: (SparkSession, A) => DataFrame,
                           serve: (SparkSession, A, Int) => DataFrame)

  /** The SimHash bucket cap: q265's dial over a signature frame, serving
    * q40's near-dup pairs. */
  val SimhashCapDial: Dial[DataFrame] = Dial("capcfg", "capdial", "cap",
    (_, sigs) => DedupQueries.bucketCapDial(sigs),
    (_, sigs, cap) => DedupQueries.simhashNearDupPairsUnsorted(sigs, cap)
      .orderBy("doc_a", "doc_b"))

  /** The MinHash bucket cap: q273's dial over the corpus at a dir,
    * serving q39's near-dup pairs. */
  val MinhashCapDial: Dial[String] = Dial("capcfg", "capdial", "cap",
    (s, dir) => DedupQueries.minhashCapDial(s, dir),
    (s, dir, cap) => DedupQueries.minhashPairs(s, dir, cap)
      .orderBy("doc_a", "doc_b"))

  /** The CDC chunk cap: q276's dial over a media frame, serving q253's
    * containment pairs. */
  val CdcCapDial: Dial[DataFrame] = Dial("capcfg", "capdial", "cap",
    (_, media) => MultimodalQueries.cdcCapDial(media),
    (_, media, cap) => MultimodalQueries.cdcContainmentPairs(media, cap))

  /** The IVF probe depth: q251's dial over the corpus at a dir, serving
    * q66's search. */
  val ProbesDial: Dial[String] = Dial("probescfg", "probesdial", "probes",
    (s, dir) => SimilarityQueries.probeDepthDial(s, dir),
    (s, dir, probes) => SimilarityQueries.ivfTopK(s, dir, probes))

  /** The sign-LSH table count — the embedding near-dup index's linear
    * cost knob: q268's dial over the corpus at a dir, serving q67's
    * pairs. */
  val TablesDial: Dial[String] = Dial("tablescfg", "tablesdial", "tables",
    { (s, dir) =>
      val n = graft.Tables.parquetRowCount(s, dir, "embeddings")
      DedupQueries.lshTableDial(DedupQueries.normVecs(s, dir),
        SimilarityQueries.codeBits(n), n)
    },
    { (s, dir, tables) =>
      val n = graft.Tables.parquetRowCount(s, dir, "embeddings")
      DedupQueries.lshNearDupPairsFrom(DedupQueries.normVecs(s, dir),
          SimilarityQueries.codeBits(n), tables)
        .orderBy("vec_a", "vec_b")
    })

  /** The serving value of a SPECIFIC pillar version. */
  def readDialAt(s: SparkSession, root: String, d: Dial[_], v: Long): Int =
    scalarsAt(s, root, v, d.cfg, Seq(d.valueCol)).head.toInt

  /** The latest committed serving value. */
  def readDial(s: SparkSession, root: String, d: Dial[_]): Int =
    readDialAt(s, root, d, latestIndex(root))

  /** A SPECIFIC version's install-time dial frame — the recall evidence
    * its value was chosen on. */
  def readDialBaselineAt(s: SparkSession, root: String, d: Dial[_],
                         v: Long): DataFrame =
    s.read.parquet(s"$root/v=$v/${d.dial}")

  /** The latest committed install-time dial frame. */
  def readDialBaseline(s: SparkSession, root: String, d: Dial[_]): DataFrame =
    readDialBaselineAt(s, root, d, latestIndex(root))

  /** Install `value` as `version`, recording the dial over `input` as
    * the install-time baseline. Same atomicity / idempotence contract as
    * [[installQuantizer]]. */
  def installDial[A](s: SparkSession, root: String, version: Long, d: Dial[A],
                     value: Int, input: A,
                     interpose: String => Unit = _ => ()): Boolean =
    Commit.publish(Paths.get(root, s"v=$version"), interpose) { staging =>
      writeScalars(s, staging, d.cfg, Seq(d.valueCol), Seq(value.toLong))
      d.frame(s, input)
        .write.mode("overwrite").parquet(staging.resolve(d.dial).toString)
    }

  /** The installed value's health on the CURRENT corpus: the dial
    * recomputed over `input`, each row marked `installed` (is this the
    * shipped value) and `recalibrate` (the shipped value no longer meets
    * the recall floor). Green right after a recalibration by
    * construction. */
  def dialDriftAudit[A](s: SparkSession, root: String, d: Dial[A],
                        input: A): DataFrame =
    marked(d.frame(s, input), d.valueCol, readDial(s, root, d).toLong)

  /** The closed loop: audit the installed value against `input`; if it
    * sags under the floor, install the dial's newly chosen value as the
    * next version atomically. Returns the new version when a
    * recalibration happened. */
  def recalibrateDial[A](s: SparkSession, root: String, d: Dial[A],
                         input: A): Option[Long] =
    chosenIfSagging(dialDriftAudit(s, root, d, input), d.valueCol).map { c =>
      val next = latestVersion(root).getOrElse(0L) + 1
      installDial(s, root, next, d, c, input)
      next
    }

  /** The descriptor's read of `input` at the INSTALLED value. */
  def serveDial[A](s: SparkSession, root: String, d: Dial[A],
                   input: A): DataFrame =
    d.serve(s, input, readDial(s, root, d))

  /** A dial frame with its `installed` and `recalibrate` marks. */
  private def marked(dial: DataFrame, valueCol: String,
                     installed: Long): DataFrame =
    dial.withColumn("installed", col(valueCol) === installed)
      .withColumn("recalibrate",
        col(valueCol) === installed && !col("meets_floor"))

  /** One-row scalar artifact (cfg) written into a staging dir. */
  private def writeScalars(s: SparkSession, staging: Path, artifact: String,
                           cols: Seq[String], values: Seq[Long]): Unit =
    s.range(1).select(cols.zip(values).map { case (c, v) => lit(v).as(c) }: _*)
      .write.mode("overwrite").parquet(staging.resolve(artifact).toString)

  // ---------- stored postings pillars: the banded near-dup indexes ----------
  //
  // The near-dup analogue of the PQ-index pillar (VERDICT r13 item 1):
  // the dial pillars above version the OPERATING PARAMETER, but every
  // dial serve still re-derives signatures and banded buckets from the
  // corpus — the pay-the-index-build-per-read pattern the PQ-index
  // pillar exists to end. These pillars persist the signature frame AND
  // the banded posting lists (PARTITIONED BY band/tbl/bkt) next to the
  // parameter they are served at, under the same v=N Commit.publish
  // rule, so
  //   (a) a reader serves the q40/q39/q67/q253 pair sets from the stored
  //       index — no text/payload/embedding re-scan, no signature
  //       recompute; the only corpus touch left is LSH's id-bounded
  //       exact-cosine lookup (q281's re-rank discipline);
  //   (b) a NEW document batch admits against the stored postings: its
  //       own signatures are computed batch-side, its band keys probe
  //       the stored posting lists, and union-bucket capping reproduces
  //       exactly what a full rebuild on the union corpus would decide
  //       (the batch sibling of the streaming admitters);
  //   (c) an append commits stored ∪ batch as v=N+1 with signatures
  //       recomputed for NOBODY — the q234 incremental discipline.
  // At 100 TB the stored posting lists are the index's own size (8-byte
  // ids against small keys), the serve-path windows and joins shuffle
  // only those rows, and install cost amortizes exactly as q281's.
  //
  // The four pillars (SimHash, MinHash, sign-LSH, CDC chunks) differ
  // only in their [[Postings]] descriptor; every verb below is written
  // once over it.

  private val SimhashSigsSchema = "doc_id BIGINT, sim BIGINT"
  private val MinhashSigsSchema = "doc_id BIGINT, sig ARRAY<BIGINT>"
  private val BandPostingsSchema = "doc_id BIGINT, key BIGINT, band INT"
  private val LshCodesSchema = "vec_id BIGINT, code INT, tbl INT"
  private val CdcChunksSchema = "doc_id BIGINT, cfp BIGINT, bkt BIGINT"
  // Probe-ready serve layouts (r17, guide §6 "layout determines how well
  // readers skip data"): derived WHOLLY from the version's base artifact
  // and rebuilt at every commit that changes it, so a serve never
  // re-expands probes or re-counts buckets. `balls` holds the LSH serve's
  // Hamming-1-expanded, [2, MaxBucket]-bounded bucket id-lists; `buckets`/
  // `doccnt` hold the CDC serve's df-annotated member lists and per-doc
  // df-census, both df-bounded at the dial sweep's max so a zero-byte cap
  // swap can CARRY them for any servable cap.
  private val LshBallsSchema = "band INT, key INT, ids ARRAY<BIGINT>"
  private val CdcBucketsSchema =
    "cfp BIGINT, df BIGINT, ds ARRAY<BIGINT>, bkt BIGINT"
  private val CdcDocCntSchema = "doc_id BIGINT, df BIGINT, cnt BIGINT"
  // SimHash/MinHash serve at a STORED, recalibratable cap, so their
  // bucket lists carry an explicit bsz (bounded at the dial sweep's max)
  // and the serve binds its cap with a pushed bsz filter — a zero-byte
  // cap swap carries the segment for any servable cap.
  private val BandBallsSchema =
    "band INT, key BIGINT, bsz BIGINT, ids ARRAY<BIGINT>"

  /** A stored artifact: name, DDL schema (explicit — an empty pillar has
    * file-less segments that inference cannot read) and partition
    * columns. */
  final case class Art(name: String, schema: String, parts: Seq[String])

  /** What a postings pillar keeps on disk: base artifacts keyed by `id`
    * (the first is the signature grain, every append writes a delta
    * segment of each), derived probe-ready serve layouts (rebuilt whole
    * at every commit that changes the base, carried by every commit that
    * does not), and the one-row `cfg` artifact whose columns are
    * `cfgCols` — the last one is the value the pillar's dial chooses. */
  final case class Layout(id: String, base: Seq[Art], derived: Seq[Art],
                          cfg: String, cfgCols: Seq[String]) {
    /** Every artifact a committed version's manifest names. */
    def arts: Seq[Art] = base ++ derived
    private[IndexLifecycle] def art(name: String): Art =
      arts.find(_.name == name).get
  }

  /** One committed version of a postings pillar, resolved ONCE: every
    * artifact and the cfg scalars come from the same v=N manifest, so a
    * concurrent commit can never mix two versions into one read. */
  final class PostingsIndex private[IndexLifecycle] (
      val s: SparkSession, val root: String, val version: Long,
      val layout: Layout) {
    private val frames = scala.collection.mutable.Map.empty[String, DataFrame]

    /** One artifact: its per-segment scans unioned. */
    def apply(artifact: String): DataFrame = frames.getOrElseUpdate(artifact,
      readArtifact(s, root, version, layout.art(artifact)))

    /** The cfg scalars, in [[Layout.cfgCols]] order. */
    lazy val cfg: Seq[Long] =
      scalarsAt(s, root, version, layout.cfg, layout.cfgCols)
  }

  /** A postings pillar: its [[Layout]] plus the functions the generic
    * verbs compose.
    *  - `rows`: an install/append input → rows at the first base
    *    artifact's grain;
    *  - `fresh`: those rows whose id the version does not hold yet (a
    *    replayed batch has none);
    *  - `encode`: rows → the first base artifact, under the cfg;
    *  - `keys`: the banded pillars' posting rows from their written
    *    signature rows (the second base artifact);
    *  - `derive`: the derived layouts, in [[Layout.derived]] order, from
    *    the version's FULL base frames;
    *  - `serve`: the stored pair set; `admit`: every pair of the union
    *    corpus that touches a batch's fresh rows;
    *  - `dial`: the dial frame auditing the cfg's last value, over an
    *    input `A`;
    *  - `rebuild`: the full input to re-encode from when the dial value
    *    shapes the stored artifacts (LSH tables); None when it binds at
    *    serve time (the caps) and a recalibration carries the artifacts. */
  final case class Postings[A](
      layout: Layout,
      rows: DataFrame => DataFrame,
      fresh: (PostingsIndex, DataFrame) => DataFrame,
      encode: (DataFrame, Seq[Long]) => DataFrame,
      keys: Option[DataFrame => DataFrame],
      derive: (String => DataFrame, Seq[Long]) => Seq[DataFrame],
      serve: PostingsIndex => DataFrame,
      admit: (PostingsIndex, DataFrame) => DataFrame,
      dial: (PostingsIndex, A) => DataFrame,
      rebuild: Option[PostingsIndex => DataFrame])

  /** The banded pillars: a signature frame `sigs(doc_id, sigCol)`, its
    * posting rows partitioned by band, their bsz-annotated `balls`, and
    * the serving cap. */
  private def bandedPostings[A](sigSchema: String, sigCol: String,
                                keysOf: DataFrame => DataFrame,
                                confirm: (DataFrame, DataFrame) => DataFrame,
                                dial: (PostingsIndex, A) => DataFrame)
      : Postings[A] = Postings(
    Layout("doc_id",
      Seq(Art("sigs", sigSchema, Nil),
        Art("postings", BandPostingsSchema, Seq("band"))),
      Seq(Art("balls", BandBallsSchema, Seq("band"))),
      "capcfg", Seq("cap")),
    rows = identity,
    fresh = (ix, sigs) =>
      sigs.join(ix("sigs").select("doc_id"), Seq("doc_id"), "left_anti"),
    encode = (sigs, _) => sigs.select("doc_id", sigCol),
    keys = Some(keysOf),
    derive = (base, _) => Seq(bandBallsOf(base("postings"))),
    serve = ix => confirm(bandPairs(ix), ix("sigs")),
    admit = (ix, fresh) => confirm(
      bandedBatchPairs(ix("postings"), keysOf(fresh), ix.cfg.head.toInt,
        "doc_a", "doc_b"),
      ix("sigs").unionByName(fresh.select("doc_id", sigCol))),
    dial = dial,
    rebuild = None)

  /** q40's index: 7-block pigeonhole posting lists of `sigs(doc_id,
    * sim)`; pairs re-checked by stored-signature Hamming distance. Its
    * cap dial (q265) needs nothing but the stored signatures. */
  val SimhashPostings: Postings[Unit] = bandedPostings[Unit](
    SimhashSigsSchema, "sim",
    DedupQueries.simhashBandKeys(_).select("doc_id", "key", "band"),
    simhashConfirm, (ix, _) => DedupQueries.bucketCapDial(ix("sigs")))

  /** q39's index: 16 band-key posting lists of `sigs(doc_id, sig[64])`;
    * pairs scored by stored-signature agreement. Its cap dial (q273)
    * needs the corpus shingles at a dir. */
  val MinhashPostings: Postings[String] = bandedPostings[String](
    MinhashSigsSchema, "sig", minhashPostingsOf, minhashConfirm,
    (ix, dir) => DedupQueries.minhashCapDial(ix.s, dir))

  /** q67's index layout: per-table BASE codes partitioned by table, the
    * probe-ready `balls` lists (r17 — the raw probed expansion would 9×
    * the artifact, but the BOUNDED bucket lists drop singleton and
    * over-cap mass, and storing them removes the expansion AND the
    * bucket-count window from every serve; measured −50% on q285/q293),
    * and `lshcfg(bits, tables)`. The float vectors are NOT stored. */
  val LshLayout: Layout = Layout("vec_id",
    Seq(Art("codes", LshCodesSchema, Seq("tbl"))),
    Seq(Art("balls", LshBallsSchema, Seq("band"))),
    "lshcfg", Seq("bits", "tables"))

  /** q67's index over the corpus at `dir`: the exact cosine re-check is
    * an id-bounded lookup into that corpus (q281's re-rank discipline),
    * and its table count (q268's dial) SHAPES the codes, so a
    * recalibration honestly re-codes the corpus. */
  def LshPostings(dir: String): Postings[Unit] = Postings(
    LshLayout,
    rows = identity,
    fresh = (ix, vecs) => vecs.join(ix("codes").select("vec_id").distinct(),
      Seq("vec_id"), "left_anti"),
    encode = (vecs, cfg) => lshCodeRows(vecs, cfg(0).toInt, cfg(1).toInt)
      .select(col("vec_id"), col("code"), col("tbl")),
    keys = None,
    derive = (base, cfg) => Seq(lshBallsOf(base("codes"), cfg(0).toInt)),
    serve = ix => lshConfirm(pairsOfBalls(ix("balls"), "vec_a", "vec_b"),
      DedupQueries.normVecs(ix.s, dir)),
    // codes computed batch-side with the INSTALLED planes/width; a truly
    // new vector's floats exist only in the batch until it is appended,
    // so the confirm side unions both (dedup by id covers re-offered
    // batches whose rows already landed at `dir`)
    admit = { (ix, vecs) =>
      val bits = ix.cfg(0).toInt
      // batch-sized, staged: the batch's code walk and the confirm union
      // side read one evaluation. Safe to stage here (unlike the banded
      // pillars, which the streaming ingest calls per micro-batch and
      // where an unreleasable checkpoint per epoch would accumulate):
      // LSH admission is batch-only (q291).
      val fresh = graft.Staging.stage(vecs)
      def banded(codes: DataFrame) = lshProbed(codes, bits)
        .withColumnRenamed("tbl", "band").withColumnRenamed("code", "key")
        .withColumnRenamed("vec_id", "doc_id")
      lshConfirm(
        bandedBatchPairs(banded(ix("codes")),
          banded(lshCodeRows(fresh, bits, ix.cfg(1).toInt)),
          DedupQueries.MaxBucket, "vec_a", "vec_b"),
        DedupQueries.normVecs(ix.s, dir)
          .unionByName(fresh.select("vec_id", "v", "nrm"))
          .dropDuplicates("vec_id"))
    },
    dial = { (ix, _) =>
      val n = graft.Tables.parquetRowCount(ix.s, dir, "embeddings")
      DedupQueries.lshTableDial(DedupQueries.normVecs(ix.s, dir),
        ix.cfg(0).toInt, n)
    },
    rebuild = Some(ix => DedupQueries.normVecs(ix.s, dir)))

  /** q253's index: each doc's DISTINCT chunk fingerprints (ONE payload
    * walk, at install/append only) partitioned by a 16-way fingerprint
    * bucket, plus the df-annotated `buckets` lists and `doccnt` census.
    * `df` is deliberately NOT stored on the chunks — document frequency
    * is a property of the whole corpus, so an append never serves stale
    * frequencies. Its cap dial (q276) reads a media frame. */
  val CdcPostings: Postings[DataFrame] = Postings(
    Layout("doc_id",
      Seq(Art("chunks", CdcChunksSchema, Seq("bkt"))),
      Seq(Art("buckets", CdcBucketsSchema, Seq("bkt")),
        Art("doccnt", CdcDocCntSchema, Nil)),
      "capcfg", Seq("cap")),
    rows = MultimodalQueries.cdcDocChunks,
    fresh = (ix, chunks) => chunks.join(
      ix("chunks").select("doc_id").distinct(), Seq("doc_id"), "left_anti"),
    encode = (chunks, _) => chunks.withColumn("bkt", pmod(col("cfp"), lit(16L))),
    keys = None,
    derive = (base, _) => cdcServeLayout(base("chunks").select("doc_id", "cfp")),
    serve = cdcServe,
    admit = cdcAdmit,
    dial = (_, media) => MultimodalQueries.cdcCapDial(media),
    rebuild = None)

  private def noIndex(root: String): Nothing =
    throw new IllegalStateException(s"no committed index under $root")

  private def latestIndex(root: String): Long =
    latestVersion(root).getOrElse(noIndex(root))

  /** One-row config artifacts (caps, dials, meta) are IMMUTABLE once
    * their version directory commits — memoized per (root, version,
    * artifact) so steady-state serve-path construction never launches a
    * Spark job (the catalog sweep's rule: the first read pays one job,
    * every re-plan after that is job-free, exactly the footer-cache
    * discipline `Tables.parquetRowCount` follows). The key carries the
    * version directory's commit fingerprint (its publishing rename
    * stamps a fresh mtime), so a root deleted and reinstalled at the
    * same path/version — cleanup, external rebuild, a long-lived JVM
    * reusing temp roots — misses the stale entry instead of silently
    * serving the dead install's scalars (the r14 advisory); the one
    * stat per read is driver-side metadata, never a Spark job. Bounded:
    * a full cache resets rather than growing without limit. */
  private val scalarCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, String, Long), Seq[Long]]

  private def scalarsAt(s: SparkSession, root: String, v: Long,
                        artifact: String, cols: Seq[String]): Seq[Long] = {
    val fp = Files.getLastModifiedTime(Paths.get(s"$root/v=$v")).toMillis
    if (scalarCache.size > 4096) scalarCache.clear()
    scalarCache.getOrElseUpdate((root, v, artifact, fp), {
      val row = s.read.schema(cols.map(c => s"$c BIGINT").mkString(", "))
        .parquet(s"$root/v=$v/$artifact").head
      (0 until row.length).map(row.getLong)
    })
  }

  /** A SPECIFIC committed version of a postings pillar. */
  def readPostingsAt(s: SparkSession, root: String, layout: Layout,
                     v: Long): PostingsIndex =
    new PostingsIndex(s, root, v, layout)

  /** The latest committed version of a postings pillar. */
  def readPostings(s: SparkSession, root: String,
                   layout: Layout): PostingsIndex =
    readPostingsAt(s, root, layout, latestIndex(root))

  /** Install a postings index built from `input` and served at `cfg`
    * (in [[Layout.cfgCols]] order). Every later artifact derives from
    * the WRITTEN segments of the earlier ones (the install rule: the
    * recorded artifact provably describes what is being installed). */
  def installPostings(s: SparkSession, root: String, version: Long,
                      p: Postings[_], input: DataFrame, cfg: Seq[Long],
                      interpose: String => Unit = _ => ()): Boolean =
    Commit.publish(Paths.get(root, s"v=$version"), interpose) { staging =>
      val segs = writeBase(s, root, p, p.encode(p.rows(input), cfg))
      val derived = writeDerived(root, p, segFrames(s, root, p.layout, segs), cfg)
      writeScalars(s, staging, p.layout.cfg, p.layout.cfgCols, cfg)
      writeManifest(staging, segs ++ derived)
    }

  /** The stored pair set of the latest version. */
  def pairsFromStore(s: SparkSession, root: String,
                     p: Postings[_]): DataFrame =
    pairsFromStoreAt(s, root, p, latestIndex(root))

  /** [[pairsFromStore]] pinned to a SPECIFIC store version — the seam
    * release-resolved serves read through, so a concurrent append or
    * swap can never move a pinned reader. */
  def pairsFromStoreAt(s: SparkSession, root: String, p: Postings[_],
                       v: Long): DataFrame =
    p.serve(readPostingsAt(s, root, p.layout, v))

  /** Admit a NEW batch (its signatures computed batch-side — the store's
    * corpus is never re-scanned): every pair of the union corpus that
    * TOUCHES the batch, decided under union-bucket capping exactly as a
    * full rebuild would. Rows already in the store are ignored
    * (admission is of new arrivals; a replay admits nothing). */
  def batchPairs(s: SparkSession, root: String, p: Postings[_],
                 batch: DataFrame): DataFrame =
    batchPairsAt(s, root, p, latestIndex(root), batch)

  /** [[batchPairs]] pinned to a SPECIFIC store version — the
    * replay-determinism seam: an ingest batch that recorded the version
    * it admitted against re-derives the same decisions on replay even
    * though the pillar has advanced since. */
  def batchPairsAt(s: SparkSession, root: String, p: Postings[_], v: Long,
                   batch: DataFrame): DataFrame = {
    val ix = readPostingsAt(s, root, p.layout, v)
    p.admit(ix, p.fresh(ix, p.rows(batch)))
  }

  /** Commit stored ∪ batch as v=N+1 — signatures recomputed for nobody
    * and the stored artifacts carried by MANIFEST REFERENCE (zero bytes):
    * the commit writes one delta-sized segment per base artifact and
    * rebuilds the derived layouts over stored ∪ delta (bucket sizes and
    * df are whole-index properties). Returns the new version, or None
    * ONLY when the batch brings no new ids (the replay no-op); a lost
    * commit race re-resolves and re-drives. */
  def appendPostings(s: SparkSession, root: String, p: Postings[_],
                     batch: DataFrame): Option[Long] =
    retryVersionRace { () =>
      val ix = readPostings(s, root, p.layout)
      val fresh = p.fresh(ix, p.rows(batch))
      if (fresh.limit(1).count() == 0) Right(None)
      else {
        val segs = writeBase(s, root, p, p.encode(fresh, ix.cfg))
        val delta = segFrames(s, root, p.layout, segs)
        val derived = writeDerived(root, p,
          a => ix(a).unionByName(delta(a)), ix.cfg)
        commitNext(ix, carriedRefs(root, ix.version,
          p.layout.base.map(_.name)) ++ segs ++ derived)
      }
    }

  /** Remove `deleted(<id>)` from the pillar — v=N+1 writes ONE
    * consolidated survivor segment per base artifact (id-only
    * anti-joins, no signature or key recompute; a takedown doubles as a
    * compaction), rebuilds the derived layouts from the survivors (a
    * deletion moves bucket sizes and df, which no per-list anti-join can
    * see), and carries the cfg. None only when nothing stored is
    * deleted; lost races re-drive. */
  def takedownPostings(s: SparkSession, root: String, p: Postings[_],
                       deleted: DataFrame): Option[Long] =
    retryVersionRace { () =>
      val ix = readPostings(s, root, p.layout)
      val id = p.layout.id
      val del = deleted.select(col(id)).distinct()
      val hit = ix(p.layout.base.head.name)
        .join(del, Seq(id), "left_semi").limit(1).count() > 0
      if (!hit) Right(None)
      else {
        val segs = p.layout.base.map(a =>
          writeArt(root, a, ix(a.name).join(del, Seq(id), "left_anti")))
        commitNext(ix, segs ++ writeDerived(root, p,
          segFrames(s, root, p.layout, segs), ix.cfg))
      }
    }

  /** Compact the pillar's delta segments (see [[compactPillar]]). None
    * when every artifact already resolves to one segment. */
  def compactPostings(s: SparkSession, root: String,
                      p: Postings[_]): Option[Long] =
    compactPillar(s, root, p.layout.arts, Seq(p.layout.cfg))

  /** The serve at a release's pinned version of pillar `pin`. */
  def pairsAtRelease(s: SparkSession, relRoot: String, p: Postings[_],
                     pin: String): DataFrame = {
    val (root, v) = readRelease(relRoot)(pin)
    pairsFromStoreAt(s, root, p, v)
  }

  // ----- serving-parameter lifecycle for the postings pillars -----
  //
  // Each postings pillar serves at an operating parameter recorded in
  // its own version (capcfg / lshcfg), and the dial pillars' audit /
  // recalibrate discipline applies here too — the difference is WHAT a
  // recalibration rewrites: the cap families' artifacts are
  // cap-INDEPENDENT (the cap binds at serve time), so a cap swap commits
  // v=N+1 with the SAME segments by reference and only a new capcfg; the
  // LSH table count shapes the code artifact itself, so its
  // recalibration is the one that honestly re-codes. Every
  // recalibration resolves its version ONCE and audits, carries and
  // commits against that same v=N directory — two `latestVersion` reads
  // around a concurrent install would audit v=N and carry v=N+1's files
  // (the r13 drift-audit race, pre-empted here).

  /** The installed serving parameter's health — the descriptor's dial
    * over `input`, rows marked `installed`/`recalibrate` exactly as
    * [[dialDriftAudit]]. */
  def postingsAudit[A](s: SparkSession, root: String, p: Postings[A],
                       input: A): DataFrame =
    postingsAuditAt(readPostings(s, root, p.layout), p, input)

  private def postingsAuditAt[A](ix: PostingsIndex, p: Postings[A],
                                 input: A): DataFrame =
    marked(p.dial(ix, input), p.layout.cfgCols.last, ix.cfg.last)

  /** Closed loop for the serving parameter: a sagging value commits the
    * dial's new choice as v=N+1 ([[reinstall]]). */
  def recalibratePostings[A](s: SparkSession, root: String, p: Postings[A],
                             input: A): Option[Long] =
    retryVersionRace { () =>
      val ix = readPostings(s, root, p.layout)
      chosenIfSagging(postingsAuditAt(ix, p, input), p.layout.cfgCols.last)
        .map(reinstall(ix, p, _)).getOrElse(Right(None))
    }

  /** v=N+1 serving dial value `value`, pinned to the audited version: a
    * pillar whose dial shapes its artifacts re-encodes from its full
    * input; otherwise the artifacts carry by MANIFEST REFERENCE under a
    * new cfg — zero data bytes. */
  private def reinstall(ix: PostingsIndex, p: Postings[_],
                        value: Long): Either[Unit, Option[Long]] = {
    val cfg = ix.cfg.init :+ value
    p.rebuild match {
      case Some(input) => Either.cond(installPostings(ix.s, ix.root,
        ix.version + 1, p, input(ix), cfg), Some(ix.version + 1), ())
      case None =>
        publishNext(ix.root, ix.version) { staging =>
          writeScalars(ix.s, staging, p.layout.cfg, p.layout.cfgCols, cfg)
          writeManifest(staging, carriedRefs(ix.root, ix.version,
            p.layout.arts.map(_.name)))
        }
    }
  }

  /** The dial's chosen value when the INSTALLED row sags — None when the
    * audit reads green, when the sweep flags a sag but elects no viable
    * replacement (every swept value misses the floor — the r14
    * advisory: "no viable value" is a verdict, not a crash), and when
    * the chosen value EQUALS the installed one (the sweep's fallback
    * choice — reinstalling the same value would commit a new version
    * every nightly pass forever, pure version churn; the caller keeps
    * serving the installed value and the audit keeps flagging — the
    * [[chosenOver]] rule [[lshGuardedMaintenance]] applies too).
    * Shared by every recalibration; the ≤sweep-sized collect is the
    * sanctioned control-plane read. */
  private def chosenIfSagging(audit: DataFrame,
                              valueCol: String): Option[Int] = {
    val rows = audit.collect()
    if (!rows.exists(r => r.getBoolean(r.fieldIndex("recalibrate")))) None
    else chosenOver(rows, valueCol)
  }

  /** A marked audit's chosen value, unless it is the installed one. */
  private def chosenOver(rows: Array[org.apache.spark.sql.Row],
                         valueCol: String): Option[Int] = {
    def value(r: org.apache.spark.sql.Row) =
      r.getLong(r.fieldIndex(valueCol)).toInt
    val installed =
      rows.find(r => r.getBoolean(r.fieldIndex("installed"))).map(value)
    rows.find(r => r.getBoolean(r.fieldIndex("chosen"))).map(value)
      .filter(c => !installed.contains(c))
  }

  // ----- the generic commit pieces -----

  /** Segments of the base artifacts: the first from `rows`, the banded
    * pillars' postings from the WRITTEN signature segment. */
  private def writeBase(s: SparkSession, root: String, p: Postings[_],
                        rows: DataFrame): Seq[(String, String)] = {
    val first = writeArt(root, p.layout.base.head, rows)
    first +: p.keys.toSeq.map(k => writeArt(root, p.layout.base(1),
      k(segFrames(s, root, p.layout, Seq(first))(first._1))))
  }

  /** Segments of the derived layouts, built from the full base frames. */
  private def writeDerived(root: String, p: Postings[_],
                           base: String => DataFrame,
                           cfg: Seq[Long]): Seq[(String, String)] =
    p.layout.derived.zip(p.derive(base, cfg))
      .map { case (a, df) => writeArt(root, a, df) }

  /** Frames of freshly written segments, by artifact name. */
  private def segFrames(s: SparkSession, root: String, layout: Layout,
                        segs: Seq[(String, String)]): String => DataFrame =
    name => segFrame(s, root, layout.art(name), segs.find(_._1 == name).get)

  /** The frame of artifact `a`'s freshly written segment `seg`. */
  private def segFrame(s: SparkSession, root: String, a: Art,
                       seg: (String, String)): DataFrame =
    s.read.schema(a.schema).parquet(s"$root/${seg._2}")

  /** Commit v=N+1 with `entries` as its manifest and v=N's cfg carried
    * by KB copy. */
  private def commitNext(ix: PostingsIndex, entries: Seq[(String, String)])
      : Either[Unit, Option[Long]] = {
    val cfg = ix.layout.cfg
    publishNext(ix.root, ix.version) { staging =>
      copyTree(Paths.get(s"${ix.root}/v=${ix.version}/$cfg"),
        staging.resolve(cfg))
      writeManifest(staging, entries)
    }
  }

  /** Publish v=N+1: Right(Some(N+1)) when this writer committed it,
    * Left(()) when a concurrent writer took the version first. */
  private def publishNext(root: String, v: Long)(write: Path => Unit)
      : Either[Unit, Option[Long]] =
    Either.cond(Commit.publish(Paths.get(root, s"v=${v + 1}"))(write),
      Some(v + 1), ())

  // ----- per-pillar frame math -----

  /** The banded pillars' probe-ready layout: per-(band, key) sorted
    * member lists with their bucket size, bounded at the dial sweep's
    * max — the serve pairs these rows under a pushed `bsz <= cap`
    * filter instead of re-counting buckets with a full-posting window
    * per read. Bucket size is a whole-index property, so every
    * postings-changing commit rebuilds the segment whole; cap swaps and
    * compactions carry it by reference. */
  private def bandBallsOf(postings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    postings
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("bsz").between(2, DedupQueries.CapSweep.max))
      .groupBy("band", "key")
      .agg(first(col("bsz")).as("bsz"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
      .select("band", "key", "bsz", "ids")
  }

  /** The banded serve's candidate pairs: the stored bucket lists under a
    * pushed bsz <= cap filter — no bucket-count window per read — at any
    * cap the lists are bounded for; a custom cap past that bound
    * re-derives the buckets from the postings. */
  private def bandPairs(ix: PostingsIndex): DataFrame = {
    val cap = ix.cfg.head.toInt
    if (cap <= DedupQueries.CapSweep.max)
      pairsOfBalls(ix("balls").filter(col("bsz") <= cap), "doc_a", "doc_b")
    else pairsOfBuckets(boundedBuckets(ix("postings"), cap), "doc_a", "doc_b")
  }

  /** q40's confirm: stored-signature Hamming re-check. */
  private def simhashConfirm(pairs: DataFrame, sigs: DataFrame): DataFrame =
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sim").as("sim_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sim").as("sim_b")), "doc_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= 6)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")

  /** The 16 band-key posting rows of a MinHash signature frame — one
    * definition shared by install, append and batch admission. */
  private def minhashPostingsOf(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), explode(DedupQueries.bandKeys(col("sig"))).as("bk"))
      .select(col("doc_id"), col("bk.key").as("key"), col("bk.band").as("band"))

  /** q39's confirm: stored-signature agreement score. */
  private def minhashConfirm(pairs: DataFrame, sigs: DataFrame): DataFrame =
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .withColumn("n_match",
        graft.functions.VectorFunctions.eqCount(col("sa"), col("sb")))
      .filter(col("n_match") >= graft.functions.Sketches.NumMinHashes / 2)
      .select(col("doc_a"), col("doc_b"),
        (col("n_match") * lit(15625L)).as("est_jaccard_ppm"))
      .orderBy("doc_a", "doc_b")

  /** Per-table sign-LSH codes (vec_id, tbl, code) of `vecs`. */
  private def lshCodeRows(vecs: DataFrame, bits: Int, tables: Int): DataFrame =
    DedupQueries.lshSigCodes(vecs, bits, tables)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("tbl", "code")))

  /** The LSH serve's probe-ready layout, derived from a version's FULL
    * code set: Hamming-1 probe balls expanded, buckets bounded to the
    * serve's own [2, MaxBucket], ids collected sorted — rows the serve
    * pairs directly, with no per-serve expansion or bucket-count window.
    * Bucket membership is a whole-index property (a batch member can
    * push a stored bucket past the bound, a takedown can pull one back
    * under it), so every codes-changing commit rebuilds it whole. */
  private def lshBallsOf(codes: DataFrame, bits: Int): DataFrame =
    ballsOfBounded(boundedBuckets(lshProbed(codes, bits)
      .withColumnRenamed("tbl", "band")
      .withColumnRenamed("code", "key")
      .withColumnRenamed("vec_id", "doc_id"), DedupQueries.MaxBucket))

  /** Symmetric Hamming-1 multi-probe expansion of a stored code frame —
    * the read-side twin of [[DedupQueries.lshBoundedKeys]]'s expansion. */
  private def lshProbed(codes: DataFrame, bits: Int): DataFrame =
    codes.select(col("vec_id"), col("tbl"),
      explode(array(col("code") +:
        (0 until bits).map(b => col("code").bitwiseXOR(lit(1 << b))): _*))
        .as("code"))

  /** q67's confirm: exact cosine over the id-bounded corpus lookup `e`. */
  private def lshConfirm(pairs: DataFrame, e: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dotd
    pairs
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("c", dotd(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("c") >= 0.35)
      .select(col("vec_a"), col("vec_b"), round(col("c"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Every serving cap the CDC pillar can carry its probe-ready layout
    * for: the dial sweep's max. df above this bound never reaches any
    * servable universe, so the stored lists and census can omit it —
    * which is what keeps a corpus-wide boilerplate chunk from storing an
    * n-doc id list. A custom cap past the bound serves via the fallback
    * (df re-priced from chunks). */
  private val CdcStoredDfBound: Int = DedupQueries.CapSweep.max

  /** The CDC serve's probe-ready layout, derived from a version's FULL
    * chunk set and CAP-INDEPENDENT (both frames carry `df`, bounded at
    * [[CdcStoredDfBound]], so any servable cap binds at read by a pushed
    * df filter and a zero-byte cap swap carries the segments):
    *  - `buckets(cfp, df, ds)` — per-fingerprint sorted member lists for
    *    df ∈ [2, bound], the rows the serve pairs directly;
    *  - `doccnt(doc_id, df, cnt)` — per-doc census of chunk df values,
    *    whose df ≤ cap partial sums are exactly the serve's per-doc
    *    surviving sizes.
    * df is a whole-corpus property, so every chunks-changing commit
    * rebuilds both whole — the one-window pass a single serve used to
    * pay, paid once per commit instead. */
  private def cdcServeLayout(chunks: DataFrame): Seq[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val withDf = chunks
      .withColumn("df", count(lit(1)).over(Window.partitionBy("cfp")))
    Seq(
      withDf.filter(col("df").between(2, CdcStoredDfBound))
        .groupBy("cfp", "df")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .withColumn("bkt", pmod(col("cfp"), lit(16L))),
      withDf.filter(col("df") <= CdcStoredDfBound)
        .groupBy("doc_id", "df").agg(count(lit(1)).as("cnt")))
  }

  /** q253's containment pairs served FROM the stored chunk postings: the
    * stored member lists pair directly under a pushed df ≤ cap filter
    * and per-doc sizes come from the stored census — no corpus-wide df
    * window and no per-doc size window in the serve plan. A custom cap
    * past the stored bound falls back to re-pricing df from the chunk
    * rows. */
  private def cdcServe(ix: PostingsIndex): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = ix.cfg.head.toInt
    if (cap <= CdcStoredDfBound) {
      val buckets = ix("buckets").filter(col("df") <= cap)
      val sizes = ix("doccnt").filter(col("df") <= cap)
        .groupBy("doc_id").agg(sum(col("cnt")).as("n"))
      MultimodalQueries.cdcContainmentPairsOfBuckets(buckets, sizes)
        .orderBy("doc_a", "doc_b")
    } else
      MultimodalQueries.cdcContainmentPairsOfChunks(
        ix("chunks").select("doc_id", "cfp").withColumn("df",
          count(lit(1)).over(Window.partitionBy("cfp"))),
        cap)
        .orderBy("doc_a", "doc_b")
  }

  /** Admit a NEW media batch's chunks against the stored chunk postings:
    * df, surviving per-doc sizes and shared counts are priced over the
    * stored ∪ batch union (index-level), and every union pair touching
    * the batch is graded by exactly q253's containment rule. */
  private def cdcAdmit(ix: PostingsIndex, batchChunks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = ix("chunks").select("doc_id", "cfp")
    val cap = ix.cfg.head.toInt
    // batch-sized, staged: the union, the batch-membership flag and the
    // touched-bucket census all read the batch's payload chunk walk once
    // (batch-only verb — q292 — so the staged block cannot accumulate
    // per streaming epoch)
    val fresh = graft.Staging.stage(batchChunks)
    val union = chunks.unionByName(fresh)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("cfp")))
    val surv = union.filter(col("df") <= cap)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .join(fresh.select("doc_id").distinct().withColumn("isb", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("isb", coalesce(col("isb"), lit(false)))
    // candidate buckets: only fingerprints a batch doc owns can seed a
    // pair touching the batch, and every shared chunk of such a pair IS
    // batch-owned — the restriction is lossless for touching pairs
    val hit = fresh.select("cfp").distinct()
    surv.filter(col("df") >= 2).join(hit, Seq("cfp"))
      .groupBy("cfp")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n"),
        col("isb")))).as("ds"))
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), b =>
          struct(a("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
            a("n").as("na"), b("n").as("nb"),
            (a("isb") || b("isb")).as("touch")))))).as("p"))
      .filter(col("p.touch"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.na"), col("p.nb"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("containment_ppm",
        expr("1000000 * shared div least(na, nb)"))
      .filter(col("containment_ppm") >= MultimodalQueries.CdcContainmentFloorPpm)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("containment_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  // ----- candidate-budget guard on the LSH confirm path -----
  //
  // SCALE.md's own x100 row showed the stored-LSH serve dominated by an
  // UNBOUNDED exact-cosine confirm (millions of candidates in a uniform
  // synthetic cloud) with no audit naming the mass (VERDICT r15 item 5).
  // The guard makes that mass observable and actionable: the audit
  // prices every bucket the serve will expand (C(bsz,2) per surviving
  // bucket — the pre-dedup expansion work, an upper bound on the
  // confirm join's input), the reading compares the total against a
  // budget, and a past-budget reading routes to the TABLE DIAL — the
  // knob that actually shrinks candidate mass. The guard NEVER drops a
  // candidate: when the dial elects no change, the serve keeps paying
  // the named mass and the reading keeps flagging, which is a report a
  // fleet can page on instead of a silent 291-second confirm.

  /** Serve-wide confirm-mass budget: ~10M candidate pairs keeps the
    * exact-cosine confirm in the seconds at 32-way parallelism; a
    * deployment sizes this to its latency SLO. */
  val LshConfirmBudgetPairs: Long = 10000000L

  /** The guard's reading: total expansion mass over all surviving
    * buckets, how many buckets carry it, and the heaviest bucket. */
  final case class LshGuardReading(mass: Long, buckets: Long,
                                   maxBucketPairs: Long, overBudget: Boolean)

  /** Per-bucket candidate-mass audit of the stored LSH serve: one row
    * per (tbl, code) bucket the confirm will expand — bucket size after
    * Hamming-1 probe expansion, its C(bsz,2) candidate mass, and an
    * `over_budget` flag against the per-bucket budget. Index-sized
    * input (the stored code rows), bucket-sized output, heaviest
    * first — the row a paged operator reads to see WHERE the mass
    * lives. The cap bound is the serve's own ([2, MaxBucket]), so the
    * audit prices exactly the work the serve does. */
  def lshConfirmAudit(s: SparkSession, root: String,
                      bucketBudgetPairs: Long = Long.MaxValue): DataFrame = {
    // the audit prices exactly the serve's buckets — which the store
    // keeps probe-ready, so the reading is a scan of bucket-sized rows
    readPostings(s, root, LshLayout)("balls")
      .select(col("band").as("tbl"), col("key").as("code"),
        size(col("ids")).cast("long").as("bsz"))
      .withColumn("cand_pairs",
        (col("bsz") * (col("bsz") - 1)).divide(2).cast("long"))
      .withColumn("over_budget", col("cand_pairs") > bucketBudgetPairs)
      .orderBy(desc("cand_pairs"), col("tbl"), col("code"))
  }

  /** One aggregated guard reading — the number the x100 SCALE row now
    * reports instead of a surprise wall-clock. */
  def lshConfirmGuard(s: SparkSession, root: String,
                      budgetPairs: Long = LshConfirmBudgetPairs)
      : LshGuardReading = {
    val r = lshConfirmAudit(s, root)
      .agg(coalesce(sum("cand_pairs"), lit(0L)),
        count(lit(1)), coalesce(max("cand_pairs"), lit(0L))).head
    LshGuardReading(r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(0) > budgetPairs)
  }

  /** The observe→act loop on confirm mass: a past-budget reading routes
    * to the table dial — candidates are never dropped. The dial's
    * `chosen` row is the MINIMAL table count meeting the recall floor;
    * when the installed count exceeds it, every extra table pays pure
    * candidate mass for recall the floor doesn't need, so the absorb
    * action re-codes at the chosen count (mass scales ~linearly in
    * tables). When the dial elects no cheaper viable count, the serve
    * keeps paying the named mass and the reading keeps flagging — a
    * report a fleet pages on, never a silent drop. Returns the reading
    * either way, plus the new version when the dial absorbed. */
  def lshGuardedMaintenance(s: SparkSession, root: String, dir: String,
                            budgetPairs: Long = LshConfirmBudgetPairs)
      : (LshGuardReading, Option[Long]) = {
    val reading = lshConfirmGuard(s, root, budgetPairs)
    if (!reading.overBudget) (reading, None)
    else (reading, retryVersionRace { () =>
      val p = LshPostings(dir)
      val ix = readPostings(s, root, p.layout)
      // no cheaper viable count: keep flagging
      chosenOver(postingsAuditAt(ix, p, ()).collect(), "tables")
        .map(reinstall(ix, p, _)).getOrElse(Right(None))
    })
  }

  // ---------- cross-pillar coherent release ----------
  //
  // Search and selection consumers compose MULTIPLE pillars — q249/q255
  // read centroids + codebook, q281 the pq index, the near-dup serves
  // their caps/tables — and each pillar swaps independently, so a
  // retrain of one can serve a MIXED version set to a reader that
  // resolves the pillars at different instants (VERDICT r14 item 6). A
  // RELEASE is a versioned manifest pinning one coherent
  // (pillar → version) tuple, committed by the same Commit.publish as
  // every pillar version: cutting a release is atomic, reading one is
  // a pure function of the release version, and a consumer that resolves
  // every pillar through one release can never observe a mid-swap mix —
  // pillar installs keep happening underneath, they just don't serve
  // until the next release pins them.

  private val ReleaseFile = "release.tsv"

  /** Cut release `version`: pin each named pillar's CURRENT latest
    * version. Atomic + idempotent like every install. */
  def cutRelease(root: String, version: Long,
                 pillars: Map[String, String]): Boolean =
    Commit.publish(Paths.get(root, s"v=$version")) { staging =>
      val lines = pillars.toSeq.sortBy(_._1).map { case (name, proot) =>
        val v = latestVersion(proot).getOrElse(noIndex(proot))
        s"$name\t$proot\t$v"
      }
      Files.write(staging.resolve(ReleaseFile), lines.asJava)
      ()
    }

  /** The latest release's pinned (store root, version) per pillar. */
  def readRelease(root: String): Map[String, (String, Long)] =
    releaseAt(root, latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed release under $root")))

  /** A SPECIFIC release's pins — driver-side NIO on a KB file. */
  def releaseAt(root: String, v: Long): Map[String, (String, Long)] =
    Files.readAllLines(Paths.get(s"$root/v=$v/$ReleaseFile")).asScala
      .map { l =>
        val t = l.split("\t", 3); t(0) -> ((t(1), t(2).toLong))
      }.toMap

  /** Every version of `pillarRoot` pinned by ANY committed release under
    * `relRoot` — the retention exclusion set: [[pruneVersions]] must not
    * reclaim a version a release still serves. */
  def releasePinnedVersions(relRoot: String,
                            pillarRoot: String): Set[Long] =
    Commit.numbered(Paths.get(relRoot), "v=")
      .flatMap(v => releaseAt(relRoot, v).values
        .collect { case (r, pv) if r == pillarRoot => pv })
      .toSet

  /** q249's two-pillar search with BOTH quantizer frames resolved from
    * ONE release — a concurrent centroid or codebook swap cannot serve
    * this reader a mixed pair; it serves the pinned pair until the next
    * release pins the new one. Expects pins named "centroids" and
    * "codebook". */
  def searchPqAtRelease(s: SparkSession, relRoot: String, dir: String,
                        probes: Int = SimilarityQueries.IvfProbes)
      : DataFrame = {
    val pins = readRelease(relRoot)
    val (cRoot, cV) = pins("centroids")
    val (bRoot, bV) = pins("codebook")
    searchPqOf(s, dir, readQuantizerAt(s, cRoot, Centroids, cV),
      readQuantizerAt(s, bRoot, Codebook, bV), probes)
  }

  /** q281's stored-index serve at a release's pinned "pq_index" version
    * — the steady-state production read path with release coherence. */
  def searchPqIndexAtRelease(s: SparkSession, relRoot: String, dir: String,
                             probes: Int = SimilarityQueries.IvfProbes,
                             panelIdCap: Option[Long] = None): DataFrame = {
    val (root, v) = readRelease(relRoot)("pq_index")
    searchPqIndexAtVersion(s, root, v, dir, probes, panelIdCap)
  }

  // ----- release-resolved near-dup serves (VERDICT r15 item 2) -----
  //
  // The postings-pair serves resolve their pillar version(s) through ONE
  // release pin ([[pairsAtRelease]]): a mid-swap reader of the one
  // genuinely MULTI-pillar consumer (q260's cross-modal consensus, which
  // composes the text AND media SimHash pillars) could otherwise see
  // text pairs from v=N and media pairs from v=N+1, exactly the mix
  // releases exist to prevent. Pillar installs keep landing underneath
  // without ever moving a released reader.
  /** q260's cross-modal consensus with BOTH SimHash pillars (token-
    * shingle text, byte-shingle media) resolved from ONE release — the
    * multi-pillar read that motivated release coherence: however the
    * two pillars swap underneath, a reader of one release can never
    * compose pairs from mixed versions. Expects pins named
    * `text_simhash` and `media_simhash`. */
  def crossModalConsensusAtRelease(s: SparkSession, relRoot: String,
                                   textPillar: String = "text_simhash",
                                   mediaPillar: String = "media_simhash")
      : DataFrame = {
    val pins = readRelease(relRoot)
    val (tr, tv) = pins(textPillar)
    val (mr, mv) = pins(mediaPillar)
    MultimodalQueries.crossModalConsensus(
      pairsFromStoreAt(s, tr, SimhashPostings, tv),
      pairsFromStoreAt(s, mr, SimhashPostings, mv))
  }

  // ---------- takedown / delete propagation ----------
  //
  // The pipeline can admit, dedup, index and excise — takedown is the
  // missing verb (VERDICT r13 item 3): a real 100 TB corpus gets delete
  // requests, and deleting the source rows is not enough while installed
  // artifacts still serve the doc. Each operator below produces the next
  // version of ONE pillar with the deleted ids gone, under the same
  // Commit.publish rule — so readers swap from "doc present" to "doc
  // absent" atomically, with rollback by version like every other swap.
  // The deleted-id frame is id-only (8-byte rows) everywhere; the only
  // rewritten bytes are the index artifacts themselves.

  /** Remove `deleted(vec_id)` from the served PQ index: v=N+1 writes ONE
    * consolidated segment of the surviving codes (id-only anti-join,
    * partition layout kept — a takedown doubles as a compaction), keeps
    * the SAME quantizers by manifest reference (zero bytes), and
    * recomputes baseline/meta over the survivors — deleting rows must
    * not poison the drift dial with the old corpus's masses. None ONLY
    * when no deleted id is in the stored codes (replay no-op); a lost
    * commit race re-resolves and re-drives. */
  def takedownPqIndex(s: SparkSession, root: String,
                      deleted: DataFrame): Option[Long] = retryVersionRace { () =>
    val v = latestIndex(root)
    val (codes, cents, _) = readPqIndexAt(s, root, v)
    val del = deleted.select(col("vec_id")).distinct()
    if (codes.join(del, Seq("vec_id"), "left_semi").limit(1).count() == 0)
      Right(None)
    else {
      val survSeg = writeArt(root, PqCodes,
        codes.join(del, Seq("vec_id"), "left_anti")
          .select("vec_id", "cd", "cent_id"))
      val surv = segFrame(s, root, PqCodes, survSeg)
      publishNext(root, v) { staging =>
        writePqBaseline(s, staging, surv, cents)
        val m = scalarsAt(s, root, v, "meta", PqMetaCols)
        writeScalars(s, staging, "meta", PqMetaCols,
          Seq(m(0), m(1), surv.count()))
        writeManifest(staging,
          carriedRefs(root, v, Seq(PqCents.name, PqBook.name)) :+ survSeg)
      }
    }
  }

  // ---------- postings-delta compaction ----------
  //
  // The LSM discipline for the manifest store (VERDICT r14 item 3):
  // after K appends an artifact resolves to K segments — K scan nodes
  // per read and K small file sets per partition directory. A compaction
  // commits v=N+1 whose manifest references ONE consolidated segment per
  // multi-segment artifact (identical rows — only the layout changes),
  // carries single-segment artifacts by reference, and leaves reclaiming
  // the superseded delta segments to [[pruneVersions]]. The consolidated
  // write repartitions by the artifact's partition columns, so AQE sizes
  // the shuffle to the advisory partition bytes — file count tracks data
  // size, not append count, at any corpus scale.

  /** Compact the PQ serving index's code-delta segments — quantizer
    * segments (always single) carry by reference; baseline/meta are
    * row-identical under compaction and carry by KB copy. */
  def compactPqIndex(s: SparkSession, root: String): Option[Long] =
    compactPillar(s, root, PqArts, Seq(Centroids.baseline, "meta"))

  /** Compact the artifacts `arts` of the latest version; the version's
    * `scalars` carry by KB copy. */
  private def compactPillar(s: SparkSession, root: String, arts: Seq[Art],
                            scalars: Seq[String]): Option[Long] =
    retryVersionRace { () =>
      val v = latestIndex(root)
      val (multi, single) =
        arts.partition(a => artifactRefs(root, v, a.name).size > 1)
      if (multi.isEmpty) Right(None)
      else {
        val segs = multi.map { a =>
          val df = readArtifact(s, root, v, a)
          writeArt(root, a,
            if (a.parts.nonEmpty) df.repartition(a.parts.map(col): _*) else df)
        }
        publishNext(root, v) { staging =>
          scalars.foreach(a =>
            copyTree(Paths.get(s"$root/v=$v/$a"), staging.resolve(a)))
          writeManifest(staging,
            carriedRefs(root, v, single.map(_.name)) ++ segs)
        }
      }
    }

  /** The content-addressed chunk store's takedown ledger under
    * [[graft.streaming.StatefulOps.chunkAdmitTws]]'s canonical-copy
    * contract (owner = min-doc first writer, duplicates bump a refcount
    * toward the owner's bytes): per chunk fingerprint, owner and
    * refcount before/after deleting `deleted(doc_id)` — `gc` marks the
    * fingerprints whose last reference died (the store deletes those
    * bytes); a surviving chunk whose OWNER died hands its canonical copy
    * to the next-earliest remaining filer. One groupBy over the 16-byte
    * (doc_id, cfp) manifest rows — payload bytes never move. */
  def chunkStoreTakedown(chunks: DataFrame, deleted: DataFrame): DataFrame =
    chunks
      .join(deleted.select(col("doc_id")).distinct()
        .withColumn("del", lit(true)), Seq("doc_id"), "left")
      .withColumn("del", coalesce(col("del"), lit(false)))
      .groupBy("cfp")
      .agg(min(col("doc_id")).as("owner_before"),
        count(lit(1)).as("refcount_before"),
        min(when(!col("del"), col("doc_id"))).as("owner_after"),
        count(when(!col("del"), 1)).as("refcount_after"))
      .withColumn("gc", col("refcount_after") === 0)

  /** Span-ownership handoff after a takedown: q114/q277's keeper rule
    * owns each distinct rolling window at its FIRST (doc, pos)
    * occurrence — deleting an owner must re-surface the next-earliest
    * occurrence as the new canonical copy (its duplicate span stops
    * being suppressed). Input is the (wh, doc_id, pos) window index;
    * output one row per ORPHANED hash: old owner, new owner (NULL when
    * the window died with its only docs). The new-owner pass touches
    * ONLY the orphaned hashes' posting slices — at 100 TB a takedown is
    * a tiny fraction of the corpus, and this is keyed on exactly that
    * fraction. */
  def spanOwnershipHandoff(wins: DataFrame, deleted: DataFrame): DataFrame = {
    val del = deleted.select(col("doc_id")).distinct()
    val orphaned = wins.groupBy("wh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
      .select(col("wh"), col("o.doc_id").as("doc_before"),
        col("o.pos").as("pos_before"))
      .join(del.withColumnRenamed("doc_id", "doc_before"),
        Seq("doc_before"), "left_semi")
    val next = wins.join(orphaned.select("wh"), Seq("wh"))
      .join(del, Seq("doc_id"), "left_anti")
      .groupBy("wh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("n"))
      .select(col("wh"), col("n.doc_id").as("doc_after"),
        col("n.pos").as("pos_after"))
    orphaned.join(next, Seq("wh"), "left")
      .select("doc_before", "pos_before", "doc_after", "pos_after")
  }

  // ---------- nightly maintenance driver ----------
  //
  // The maintenance verbs exist separately (audits, recalibrations,
  // appends, compaction, retention, orphan GC); production runs them as
  // ONE nightly pass over every installed pillar (VERDICT r15 item 5).
  // Per pillar, in order: (1) APPEND pending arrivals — so the audit
  // that follows covers them (drift arrives through the append path,
  // the discipline the recalibration specs pin); (2) AUDIT and
  // recalibrate the serving parameter when it sags (the LSH pillar
  // additionally prices its confirm-mass guard and routes a past-budget
  // reading to the table dial); (3) COMPACT when an artifact resolves
  // to multiple delta segments; (4) PRUNE retention respecting release
  // AND ingest pins; (5) GC aged orphan segments. The report frame
  // carries one row per action TAKEN (plus the guard's reading whenever
  // it flags — the page a fleet watches), so a re-run over a quiescent
  // store returns an EMPTY report: the no-op proof is a row count.

  /** One pillar's description for [[nightlyMaintenance]] — the name is
    * the report key; context fields are what its audit needs. */
  sealed trait PillarSpec { def name: String; def root: String }

  /** A postings pillar's description: its descriptor and the pending
    * arrivals to append. */
  sealed trait PostingsSpec extends PillarSpec {
    def postings: Postings[_]
    def pending: Option[DataFrame]
  }

  /** A cap-served postings pillar, audited by its descriptor's dial over
    * `input`. */
  final case class PostingsPillar[A](name: String, root: String,
                                     postings: Postings[A], input: A,
                                     pending: Option[DataFrame] = None)
    extends PostingsSpec

  /** The LSH postings pillar over the corpus at `dir`, maintained under
    * the confirm-mass guard. */
  final case class LshPillar(name: String, root: String, dir: String,
                             pending: Option[DataFrame] = None,
                             budgetPairs: Long = LshConfirmBudgetPairs)
    extends PostingsSpec {
    def postings: Postings[Unit] = LshPostings(dir)
  }
  final case class PqPillar(name: String, root: String, dir: String,
                            k: Int) extends PillarSpec

  /** The full nightly pass. `relRoots` are release stores whose pins
    * retention must honor; `extraPins` adds per-pillar-name exclusions
    * (e.g. [[graft.streaming.IngestPipeline.ingestPinnedVersions]] for
    * an ingest base's pillar). Returns the report frame
    * (pillar, action, detail, new_version). */
  def nightlyMaintenance(s: SparkSession, pillars: Seq[PillarSpec],
                         relRoots: Seq[String] = Nil,
                         extraPins: Map[String, Set[Long]] = Map.empty,
                         keep: Int = 2,
                         orphanMinAgeMs: Long = 3600000L): DataFrame = {
    import s.implicits._
    val rows = scala.collection.mutable
      .Buffer.empty[(String, String, String, Option[Long])]
    def rec(p: String, a: String, d: String, v: Option[Long]): Unit = {
      rows += ((p, a, d, v)); ()
    }
    pillars.foreach { p =>
      // 1. pending arrivals commit first — the audit must cover them
      p match {
        case ps: PostingsSpec =>
          ps.pending.flatMap(appendPostings(s, ps.root, ps.postings, _))
            .foreach(v => rec(ps.name, "append", "new arrivals committed",
              Some(v)))
        case _ => ()
      }
      // 2. audit → recalibrate (or guard-route, or PQ drift/growth)
      p match {
        case PostingsPillar(n, r, d, input, _) =>
          recalibratePostings(s, r, d, input)
            .foreach(v => rec(n, "recalibrate", "serving cap re-chosen",
              Some(v)))
        case LshPillar(n, r, d, _, budget) =>
          val (reading, acted) = lshGuardedMaintenance(s, r, d, budget)
          if (reading.overBudget)
            rec(n, "guard",
              s"confirm mass ${reading.mass} pairs over budget " +
                s"(${reading.buckets} buckets, max ${reading.maxBucketPairs})" +
                acted.fold(" — no cheaper table count viable, still " +
                  "flagging")(_ => " — table dial absorbed"), acted)
        case PqPillar(n, r, d, k) =>
          maintainPqIndex(s, r, d, k).foreach { case (v, how) =>
            rec(n, how,
              if (how == "rebuild") "quantizer drift — dial-preserving " +
                "rebuild" else "new arrivals coded and committed", Some(v))
          }
      }
      // 3. compact when fragmented
      (p match {
        case ps: PostingsSpec => compactPostings(s, p.root, ps.postings)
        case _: PqPillar => compactPqIndex(s, p.root)
      }).foreach(v =>
        rec(p.name, "compact", "delta segments consolidated", Some(v)))
      // 4. retention under every pin source
      val pins = relRoots.flatMap(rr => releasePinnedVersions(rr, p.root))
        .toSet ++ extraPins.getOrElse(p.name, Set.empty)
      val (dv, dsg) = pruneVersions(p.root, keep, pins)
      if (dv > 0 || dsg > 0)
        rec(p.name, "prune",
          s"$dv versions, $dsg segments reclaimed", None)
      // 5. aged commit debris
      val g = gcOrphanSegments(p.root, orphanMinAgeMs)
      if (g > 0) rec(p.name, "gc", s"$g orphan segments reclaimed", None)
    }
    rows.toSeq.toDF("pillar", "action", "detail", "new_version")
  }

  // ----- shared banded-index machinery -----

  /** Posting rows surviving the [2, cap] bucket bound — the window count
    * rides the same (band, key) hash partitioning the downstream groupBy
    * reuses, so bounding adds no exchange (the q40/q39 idiom). */
  private def boundedBuckets(postings: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    postings
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("bsz").between(2, cap))
      .select("doc_id", "band", "key")
  }

  /** Bounded posting rows grouped to the probe-ready bucket-list grain —
    * the frame the `balls` serve segment stores. */
  private def ballsOfBounded(bounded: DataFrame): DataFrame =
    bounded.groupBy("band", "key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))

  /** In-bucket id pairing of a (band, key, ids) bucket-list frame:
    * strictly-later elements pair (a < b holds — a doc posts once per
    * bucket), duplicates across bands collapse once. */
  private def pairsOfBalls(balls: DataFrame, aName: String,
                           bName: String): DataFrame =
    balls.select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
          struct(a.as(aName), b.as(bName)))))).as("p"))
      .select(col(s"p.$aName").as(aName), col(s"p.$bName").as(bName))
      .dropDuplicates(aName, bName)

  /** In-bucket id pairing of a bounded posting frame: ids collect sorted
    * per bucket, strictly-later elements pair (a < b holds — a doc posts
    * once per bucket), duplicates across bands collapse once. */
  private def pairsOfBuckets(bounded: DataFrame, aName: String,
                             bName: String): DataFrame =
    pairsOfBalls(ballsOfBounded(bounded), aName, bName)

  /** Union-bucket batch admission for any banded index: stored postings
    * restricted to the buckets the batch touches (lossless for pairs
    * touching the batch — such a pair shares a bucket the batch posted
    * into), union with the batch keys, capped at the UNION bucket size
    * exactly as a full rebuild on the union corpus would cap, paired
    * id-only, and filtered to pairs with ≥1 batch member. */
  private def bandedBatchPairs(stored: DataFrame, batchKeys: DataFrame,
                               cap: Int, aName: String,
                               bName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hit = batchKeys.select("band", "key").distinct()
    val members = stored.join(hit, Seq("band", "key"))
      .unionByName(batchKeys.select("doc_id", "band", "key"))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("bsz").between(2, cap))
      .join(batchKeys.select("doc_id").distinct().withColumn("isb", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("isb", coalesce(col("isb"), lit(false)))
    members.groupBy("band", "key")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("isb")))).as("ds"))
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), b =>
          struct(a("doc_id").as(aName), b("doc_id").as(bName),
            (a("isb") || b("isb")).as("touch")))))).as("p"))
      .filter(col("p.touch"))
      .select(col(s"p.$aName").as(aName), col(s"p.$bName").as(bName))
      .dropDuplicates(aName, bName)
  }
}

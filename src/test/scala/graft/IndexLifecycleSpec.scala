package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.IndexLifecycle
import graft.operators.IndexLifecycle.{Centroids, Codebook}

/** The retrain-and-swap loop (VERDICT r9 item 2): drift flagged → retrain →
  * atomic version install, with the three contracted properties:
  *
  *  (a) a reader concurrent with the swap sees exactly ONE complete
  *      version — old before the atomic move, new after, never a partial
  *      or staging artifact;
  *  (b) the post-retrain drift audit reads green (the refreshed baseline
  *      IS the current corpus distribution);
  *  (c) search results change only through the installed index version —
  *      repeated searches at a fixed version are identical row-for-row.
  */
class IndexLifecycleSpec extends SparkSpec {

  /** Synthetic drifting corpus: the OLD epoch (vec_id 0–39) points along
    * e0/e1; the NEW arrivals (40–79) all point along e2 — a hard
    * distribution shift no frozen 2-cell index can absorb. Small
    * deterministic jitter in dim 10 keeps neighbors distinct. */
  private def corpus: DataFrame = {
    import spark.implicits._
    (0L until 80L).map { i =>
      val dir = if (i < 40) (i % 2).toInt else 2
      val v = Array.fill(64)(0.0f)
      v(dir) = 1.0f
      v(10) = 0.01f * (i % 7)
      (i, v, dir.toLong)
    }.toDF("vec_id", "embedding", "label")
  }

  private def oldEpoch(c: DataFrame): DataFrame = c.filter(col("vec_id") < 40)

  private def asVec(c: DataFrame): DataFrame =
    c.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))

  test("drift flags a stale index; retrain-and-swap turns the audit green") {
    val root = Files.createTempDirectory("graft_index_store").toString
    val c = corpus

    // v1: trained and baselined on the OLD epoch only
    IndexLifecycle.installQuantizer(spark, root, 1L, Centroids,
      IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2),
      asVec(oldEpoch(c)))
    assert(IndexLifecycle.latestVersion(root) === Some(1L))

    // the audit against the FULL corpus must flag: the new e2 mass crowds
    // into one of the two old cells, shifting its share far past 2%
    val audit1 = IndexLifecycle.quantizerDriftAudit(spark, root, Centroids,
      asVec(c)).collect()
    assert(audit1.exists(_.getBoolean(audit1.head.fieldIndex("rebalance"))),
      s"stale index must flag drift:\n${audit1.mkString("\n")}")

    // the closed loop retrains (k=3 — room for the new cluster) and swaps
    val retrained = IndexLifecycle.retrainQuantizer(spark, root,
      Centroids, asVec(c), 3)
    assert(retrained === Some(2L))
    assert(IndexLifecycle.latestVersion(root) === Some(2L))
    assert(IndexLifecycle.readQuantizer(spark, root, Centroids).count() === 3L)

    // (b) post-retrain: green by construction — the baseline is the
    // current distribution, so every shift is exactly 0
    val audit2 = IndexLifecycle.quantizerDriftAudit(spark, root, Centroids,
      asVec(c)).collect()
    assert(audit2.nonEmpty &&
      audit2.forall(_.getLong(audit2.head.fieldIndex("shift_ppm")) == 0L),
      s"post-retrain audit must read green:\n${audit2.mkString("\n")}")
    assert(!audit2.exists(_.getBoolean(audit2.head.fieldIndex("rebalance"))))

    // a second loop pass is a no-op: nothing flagged, no new version
    assert(IndexLifecycle.retrainQuantizer(spark, root,
      Centroids, asVec(c), 3).isEmpty)
    assert(IndexLifecycle.latestVersion(root) === Some(2L))
  }

  test("a reader concurrent with the swap sees exactly one complete version") {
    val root = Files.createTempDirectory("graft_index_swap").toString
    val c = corpus
    IndexLifecycle.installQuantizer(spark, root, 1L, Centroids,
      IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2), asVec(oldEpoch(c)))

    var sawDuringStaged: Option[(Option[Long], Long)] = None
    var sawAfterInstall: Option[(Option[Long], Long)] = None
    IndexLifecycle.installQuantizer(spark, root, 2L, Centroids,
      IndexLifecycle.train(spark, asVec(c), k = 3), asVec(c),
      interpose = {
        case "staged" =>
          // new artifacts fully written but not yet visible: a reader must
          // still resolve v1, complete
          sawDuringStaged = Some((IndexLifecycle.latestVersion(root),
            IndexLifecycle.readQuantizer(spark, root, Centroids).count()))
        case "installed" =>
          sawAfterInstall = Some((IndexLifecycle.latestVersion(root),
            IndexLifecycle.readQuantizer(spark, root, Centroids).count()))
        case _ => ()
      })
    assert(sawDuringStaged === Some((Some(1L), 2L)),
      "mid-swap reader must see the OLD version, complete")
    assert(sawAfterInstall === Some((Some(2L), 3L)),
      "post-swap reader must see the NEW version, complete")

    // replayed install of a committed version is a strict no-op
    val replayed = IndexLifecycle.installQuantizer(spark, root, 2L, Centroids,
      IndexLifecycle.train(spark, asVec(c), k = 2), asVec(c))
    assert(!replayed)
    assert(IndexLifecycle.readQuantizer(spark, root, Centroids).count() === 3L,
      "replay must not touch the committed artifact")

    // a failed install never becomes visible and leaves no staging debris
    // behind for versionsOf to misread
    intercept[RuntimeException] {
      IndexLifecycle.installQuantizer(spark, root, 3L, Centroids,
        IndexLifecycle.train(spark, asVec(c), k = 2), asVec(c),
        interpose = phase =>
          if (phase == "staged") throw new RuntimeException("crash before move"))
    }
    assert(IndexLifecycle.latestVersion(root) === Some(2L),
      "failed install must stay invisible")
  }

  test("search results are a pure function of the installed version") {
    val root = Files.createTempDirectory("graft_index_search").toString
    val dir = Files.createTempDirectory("graft_index_corpus").toString
    val c = corpus
    c.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    IndexLifecycle.installQuantizer(spark, root, 1L, Centroids,
      IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2), asVec(oldEpoch(c)))

    def collectSearch(): Seq[(Long, Long, Long)] =
      IndexLifecycle.search(spark, root, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // (c) bit-deterministic at a fixed version: the installed parquet
    // artifact is the only input, so two runs are identical row-for-row
    val run1 = collectSearch()
    val run2 = collectSearch()
    assert(run1.nonEmpty && run1 === run2,
      "same installed version must give identical search results")

    // swap to the retrained version: results remain deterministic and the
    // index serving them is demonstrably the new artifact
    IndexLifecycle.installQuantizer(spark, root, 2L, Centroids,
      IndexLifecycle.train(spark, asVec(c), k = 3), asVec(c))
    assert(IndexLifecycle.readQuantizer(spark, root, Centroids).count() === 3L)
    val run3 = collectSearch()
    assert(run3 === collectSearch(),
      "new version must serve deterministically too")
  }

  // ---------- the codebook pillar's twin contracts ----------

  test("codebook drift flags a stale codebook; retrain-and-swap turns q245's dial green") {
    val root = Files.createTempDirectory("graft_codebook_store").toString
    val c = corpus

    // v1: trained and baselined on the OLD epoch only (its LCG sample
    // holds only e0/e1-direction subvectors)
    IndexLifecycle.installQuantizer(spark, root, 1L, Codebook,
      IndexLifecycle.trainCodebook(asVec(oldEpoch(c))), asVec(oldEpoch(c)))
    assert(IndexLifecycle.latestVersion(root) === Some(1L))

    // against the FULL corpus the e2 arrivals reconstruct terribly under
    // the old codebook: at least one subspace's mean error jumps far past
    // the 2.5% relative rule
    val audit1 = IndexLifecycle.quantizerDriftAudit(spark, root, Codebook,
      asVec(c)).collect()
    assert(audit1.exists(_.getBoolean(audit1.head.fieldIndex("retrain"))),
      s"stale codebook must flag drift:\n${audit1.mkString("\n")}")

    // the closed loop retrains on the current corpus and swaps
    assert(IndexLifecycle.retrainQuantizer(spark, root,
      Codebook, asVec(c), ())
      === Some(2L))
    assert(IndexLifecycle.latestVersion(root) === Some(2L))

    // green by construction: the refreshed baseline IS the current error
    val audit2 = IndexLifecycle.quantizerDriftAudit(spark, root, Codebook,
      asVec(c)).collect()
    assert(audit2.nonEmpty &&
      audit2.forall(_.getLong(audit2.head.fieldIndex("shift_u")) == 0L),
      s"post-retrain audit must read green:\n${audit2.mkString("\n")}")
    assert(IndexLifecycle.retrainQuantizer(spark, root,
      Codebook, asVec(c), ()).isEmpty)

    // replayed install of a committed version is a strict no-op
    assert(!IndexLifecycle.installQuantizer(spark, root, 2L, Codebook,
      IndexLifecycle.trainCodebook(asVec(oldEpoch(c))), asVec(c)))
  }

  test("a codebook reader concurrent with the swap sees exactly one complete version") {
    val root = Files.createTempDirectory("graft_codebook_swap").toString
    val c = corpus
    IndexLifecycle.installQuantizer(spark, root, 1L, Codebook,
      IndexLifecycle.trainCodebook(asVec(oldEpoch(c))), asVec(oldEpoch(c)))
    val v1Rows = IndexLifecycle.readQuantizer(spark, root, Codebook).count()

    var sawDuringStaged: Option[(Option[Long], Long)] = None
    var sawAfterInstall: Option[(Option[Long], Long)] = None
    IndexLifecycle.installQuantizer(spark, root, 2L, Codebook,
      IndexLifecycle.trainCodebook(asVec(c)), asVec(c),
      interpose = {
        case "staged" =>
          sawDuringStaged = Some((IndexLifecycle.latestVersion(root),
            IndexLifecycle.readQuantizer(spark, root, Codebook).count()))
        case "installed" =>
          sawAfterInstall = Some((IndexLifecycle.latestVersion(root),
            IndexLifecycle.readQuantizer(spark, root, Codebook).count()))
        case _ => ()
      })
    val v2Rows = IndexLifecycle.readQuantizer(spark, root, Codebook).count()
    assert(sawDuringStaged === Some((Some(1L), v1Rows)),
      "mid-swap reader must see the OLD codebook, complete")
    assert(sawAfterInstall === Some((Some(2L), v2Rows)))
    assert(v2Rows > v1Rows, "full-corpus retrain must have grown the sample")

    // a failed install never becomes visible and leaves no staging debris
    intercept[RuntimeException] {
      IndexLifecycle.installQuantizer(spark, root, 3L, Codebook,
        IndexLifecycle.trainCodebook(asVec(c)), asVec(c),
        interpose = phase =>
          if (phase == "staged") throw new RuntimeException("crash before move"))
    }
    assert(IndexLifecycle.latestVersion(root) === Some(2L))
  }

  test("IVF-PQ search composes whatever pillar pair is installed") {
    val centsRoot = Files.createTempDirectory("graft_ivfpq_cents").toString
    val cbRoot = Files.createTempDirectory("graft_ivfpq_cb").toString
    val dir = Files.createTempDirectory("graft_ivfpq_corpus").toString
    val c = corpus
    c.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    IndexLifecycle.installQuantizer(spark, centsRoot, 1L, Centroids,
      IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2), asVec(oldEpoch(c)))
    IndexLifecycle.installQuantizer(spark, cbRoot, 1L, Codebook,
      IndexLifecycle.trainCodebook(asVec(c)), asVec(c))

    // probes=1 so the cell gate actually gates (2-3 cells in store)
    def collectSearch(): Seq[(Long, Long, Long)] =
      IndexLifecycle.searchPq(spark, centsRoot, cbRoot, dir, probes = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val run1 = collectSearch()
    assert(run1.nonEmpty && run1 === collectSearch(),
      "fixed pillar versions must serve identical IVF-PQ results")

    // swap ONLY the centroid pillar, to a version whose cells SPLIT the
    // e0 blob by its jitter dimension: the e0 query now probes a cell
    // missing some of its former neighbors, so the served results change
    // — through the store alone (the codebook pillar is untouched; a
    // well-trained retrain would NOT move these results, because the
    // exact re-rank absorbs it — that robustness is the point of q249,
    // so the seam test installs a deliberately different quantizer)
    import spark.implicits._
    val e0 = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
    val e0j = Array.tabulate(64)(i =>
      if (i == 0) 1.0 else if (i == 10) 0.06 else 0.0)
    val handCents = Seq((100L, e0, 1.0), (101L, e0j, math.sqrt(1.0036)))
      .toDF("cent_id", "cv", "cn")
    IndexLifecycle.installQuantizer(spark, centsRoot, 2L, Centroids, handCents, asVec(c))
    val run3 = collectSearch()
    assert(run3 === collectSearch(), "new pillar pair must be deterministic")
    assert(run3 !== run1,
      "a centroid swap must change IVF-PQ routing (results flowed from the store)")
  }

  /** Deterministic payload corpora for the cap pillar: `healthy` is ten
    * 2-member duplicate families (every bucket tiny, cap 16 suffices);
    * `drifted` adds a 70-member byte-identical family whose band buckets
    * all exceed the shipped cap — the saturation drift media envelopes
    * and boilerplate prose produce in the wild. */
  private def lcgPayload(seed: Long): Array[Byte] = {
    var x = seed
    Array.fill(64) {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 33) & 0xff).toByte
    }
  }

  private def sigsOf(rows: Seq[(Long, Array[Byte])]): DataFrame = {
    import spark.implicits._
    graft.operators.MultimodalQueries.byteSimhashSigs(
      rows.toDF("doc_id", "payload"))
  }

  private def healthyRows: Seq[(Long, Array[Byte])] =
    (0L until 10L).flatMap(f =>
      Seq((2 * f, lcgPayload(f + 1)), (2 * f + 1, lcgPayload(f + 1))))

  private def driftedRows: Seq[(Long, Array[Byte])] =
    healthyRows ++ (1000L until 1070L).map(id => (id, lcgPayload(99L)))

  test("cap drift flags a saturated corpus; recalibrate-and-swap turns the dial green") {
    val root = Files.createTempDirectory("graft_cap_store").toString

    // v1: the dial's choice on the healthy corpus is the cheapest cap
    val dial1 = graft.operators.DedupQueries.bucketCapDial(sigsOf(healthyRows))
      .filter(col("chosen")).collect()
    assert(dial1.length == 1 && dial1.head.getLong(0) == 16L,
      "tiny buckets must calibrate to the cheapest swept cap")
    assert(IndexLifecycle.installDial(spark, root, 1L,
      IndexLifecycle.SimhashCapDial, 16, sigsOf(healthyRows)))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.SimhashCapDial) === 16)
    val audit1 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.SimhashCapDial, sigsOf(healthyRows))
      .collect()
    assert(!audit1.exists(_.getBoolean(audit1.head.fieldIndex("recalibrate"))))
    assert(IndexLifecycle
      .recalibrateDial(spark, root,
      IndexLifecycle.SimhashCapDial, sigsOf(healthyRows)).isEmpty)

    // the corpus drifts into saturation: the installed cap's recall
    // collapses (966 of 970 panel pairs sit only in 70-member buckets)
    val audit2 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.SimhashCapDial, sigsOf(driftedRows))
      .collect()
    assert(audit2.exists(r => r.getBoolean(r.fieldIndex("recalibrate"))),
      s"saturated corpus must flag the installed cap:\n${audit2.mkString("\n")}")

    // the closed loop installs the dial's new choice atomically
    assert(IndexLifecycle
      .recalibrateDial(spark, root,
      IndexLifecycle.SimhashCapDial, sigsOf(driftedRows)) === Some(2L))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.SimhashCapDial) === 128)
    val audit3 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.SimhashCapDial, sigsOf(driftedRows))
      .collect()
    assert(!audit3.exists(_.getBoolean(audit3.head.fieldIndex("recalibrate"))),
      "post-recalibration audit must read green")

    // pairs flow through the store alone: the v1 cap dropped the planted
    // family, the v2 cap recovers all 70*69/2 of it plus the healthy 10
    val pairs = IndexLifecycle
      .serveDial(spark, root,
      IndexLifecycle.SimhashCapDial, sigsOf(driftedRows)).count()
    assert(pairs === 69L * 35L + 10L,
      s"dial-chosen cap must recover the saturated family, got $pairs")
    assert(graft.operators.DedupQueries
      .simhashNearDupPairsUnsorted(sigsOf(driftedRows), 16).count() === 10L,
      "the superseded cap loses exactly the planted family")

    // replayed install of a committed version is a strict no-op
    assert(!IndexLifecycle.installDial(spark, root, 2L,
      IndexLifecycle.SimhashCapDial, 16, sigsOf(healthyRows)))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.SimhashCapDial) === 128)
  }

  test("a cap reader concurrent with the swap sees exactly one complete version") {
    val root = Files.createTempDirectory("graft_cap_swap").toString
    assert(IndexLifecycle.installDial(spark, root, 1L,
      IndexLifecycle.SimhashCapDial, 16, sigsOf(healthyRows)))

    var sawDuringStaged: Option[(Option[Long], Int)] = None
    var sawAfterInstall: Option[(Option[Long], Int)] = None
    IndexLifecycle.installDial(spark, root, 2L,
      IndexLifecycle.SimhashCapDial, 128, sigsOf(driftedRows), interpose = {
        case "staged" =>
          sawDuringStaged = Some((IndexLifecycle.latestVersion(root),
            IndexLifecycle.readDial(spark, root,
              IndexLifecycle.SimhashCapDial)))
        case "installed" =>
          sawAfterInstall = Some((IndexLifecycle.latestVersion(root),
            IndexLifecycle.readDial(spark, root,
              IndexLifecycle.SimhashCapDial)))
        case _ => ()
      })
    assert(sawDuringStaged === Some((Some(1L), 16)),
      "mid-swap reader must see the OLD cap, complete")
    assert(sawAfterInstall === Some((Some(2L), 128)))
    // the install-time dial evidence rode along with the artifact
    assert(IndexLifecycle.readDialBaseline(spark, root,
      IndexLifecycle.SimhashCapDial)
      .filter(col("chosen")).head.getLong(0) === 128L)

    // a failed install never becomes visible and leaves no staging debris
    intercept[RuntimeException] {
      IndexLifecycle.installDial(spark, root, 3L,
        IndexLifecycle.SimhashCapDial, 64, sigsOf(healthyRows),
        interpose = phase =>
          if (phase == "staged") throw new RuntimeException("crash before move"))
    }
    assert(IndexLifecycle.latestVersion(root) === Some(2L))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.SimhashCapDial) === 128)
  }

  // ---------- probe-depth pillar twins ----------

  /** Write a planted embeddings corpus and return its table dir. */
  private def writeEmbeddings(rows: Seq[(Long, Array[Float])]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_emb_corpus").toString
    rows.map { case (id, v) => (id, v, id % 3) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def unit(d: Int, jitterDim: Int = -1, jitter: Float = 0f): Array[Float] = {
    val v = Array.fill(64)(0.0f); v(d) = 1.0f
    if (jitterDim >= 0) v(jitterDim) = jitter
    v
  }

  /** Planted corpora for the probe pillar, ids 0..129: the LCG centroid
    * sample picks exactly {70, 99, 128} and the query panel is
    * {0, 50, 100}. `probesHealthyDir`: three tight orthogonal clusters
    * (e0/e1/e2), every query's true top-10 inside its own cell — 1 probe
    * recalls everything. `probesDriftedDir`: queries 0 and 50 route to
    * cells holding only their centroid while all corpus mass (and their
    * true neighbors) sits in cell 128 — 1 probe recalls 12/30 (400000
    * ppm, under the 500000 floor) and the dial must move to 3. */
  private def probesHealthyDir: String = writeEmbeddings(
    (0L until 130L).map { i =>
      val c = if (i == 70) 0 else if (i == 99) 1 else if (i == 128) 2
              else (i % 3).toInt
      (i, unit(c, 10 + c, 0.01f * (1 + (i % 17))))
    })

  private def probesDriftedDir: String = writeEmbeddings(
    (0L until 130L).map { i =>
      if (i == 70) (i, unit(0))
      else if (i == 99) (i, unit(1))
      else if (i == 128) (i, unit(2))
      else if (i == 0) (i, unit(0, 20, 0.01f))
      else if (i == 50) (i, unit(1, 21, 0.01f))
      else if (i == 100) (i, unit(2, 22, 0.01f))
      else {
        val v = Array.fill(64)(0.0f)
        v(2) = 1.0f
        v(0) = 0.001f * (1 + (i % 19))
        v(1) = 0.001f * (1 + (i % 23))
        (i, v)
      }
    })

  test("probe drift flags a routed-away corpus; recalibrate-and-swap turns the dial green") {
    import graft.operators.SimilarityQueries
    val root = Files.createTempDirectory("graft_probes_store").toString
    val dirH = probesHealthyDir
    val dirD = probesDriftedDir

    // v1: the dial's choice on the healthy corpus is the cheapest depth
    val dialH = SimilarityQueries.probeDepthDial(spark, dirH)
      .filter(col("chosen")).collect()
    assert(dialH.length == 1 && dialH.head.getLong(0) == 1L,
      "tight own-cell clusters must calibrate to 1 probe")
    assert(IndexLifecycle.installDial(spark, root, 1L,
      IndexLifecycle.ProbesDial, 1, dirH))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.ProbesDial) === 1)
    val audit1 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.ProbesDial, dirH).collect()
    assert(!audit1.exists(_.getBoolean(audit1.head.fieldIndex("recalibrate"))))
    assert(IndexLifecycle.recalibrateDial(spark, root,
      IndexLifecycle.ProbesDial, dirH).isEmpty)

    // the corpus drifts: queries' neighbors now live outside the first
    // probed cell, the installed depth's recall collapses to 400000 ppm
    val audit2 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.ProbesDial, dirD).collect()
    val installedRow = audit2
      .filter(_.getBoolean(audit2.head.fieldIndex("installed"))).head
    assert(installedRow.getLong(installedRow.fieldIndex("recall_ppm")) == 400000L,
      s"drifted corpus at 1 probe:\n${audit2.mkString("\n")}")
    assert(installedRow.getBoolean(installedRow.fieldIndex("recalibrate")))

    // the closed loop installs the dial's new choice atomically
    assert(IndexLifecycle.recalibrateDial(spark, root,
      IndexLifecycle.ProbesDial, dirD)
      === Some(2L))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.ProbesDial) === 3)
    val audit3 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.ProbesDial, dirD).collect()
    assert(!audit3.exists(_.getBoolean(audit3.head.fieldIndex("recalibrate"))),
      "post-recalibration audit must read green")

    // search flows through the store alone: the installed depth's results
    // are exactly q66 at that depth, and differ from the superseded one
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val throughStore = rows(
      IndexLifecycle.serveDial(spark, root, IndexLifecycle.ProbesDial, dirD))
    assert(throughStore ==
      rows(SimilarityQueries.ivfTopK(spark, dirD, 3)))
    assert(throughStore !=
      rows(SimilarityQueries.ivfTopK(spark, dirD, 1)),
      "a depth swap must change what readers see (results flow from the store)")

    // replayed install of a committed version is a strict no-op, and the
    // install-time dial evidence rode along with the artifact
    assert(!IndexLifecycle.installDial(spark, root, 2L,
      IndexLifecycle.ProbesDial, 1, dirH))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.ProbesDial) === 3)
    assert(IndexLifecycle.readDialBaseline(spark, root,
      IndexLifecycle.ProbesDial)
      .filter(col("chosen")).head.getLong(0) === 3L)
  }

  // ---------- LSH table-count pillar twins ----------

  /** Planted corpora for the table pillar. `tablesHealthyDir`: 20 twin
    * pairs of IDENTICAL orthogonal vectors — identical codes collide in
    * every table, so 1 table recalls everything and the dial picks the
    * cheapest count. `tablesDriftedDir`: 12 pairs at cosine 0.40 on
    * disjoint dim pairs, hand-picked (measured against the fixed
    * splitmix64 hyperplanes at 8-bit codes) so their first colliding
    * table is 0 for three pairs, 1 for one, 2 for five and 3 for three —
    * recall at the installed single table collapses to 3/12 = 250000 ppm
    * and the dial must move to 3 tables (9/12 = 750000). The first pair
    * member sits on the vec_id % 5 == 0 panel, the second never does, so
    * each pair is exactly one ground-truth row; cross-pair cosine is 0. */
  private def tablesHealthyDir: String = writeEmbeddings(
    (0L until 40L).map(i => (i, unit((i / 2).toInt))))

  /** (dim-pair j, first colliding table measured for cos 0.40). */
  private val DriftPairJs: Seq[(Int, Int)] = Seq(
    (8, 0), (17, 0), (22, 0),
    (30, 1),
    (3, 2), (10, 2), (12, 2), (13, 2), (23, 2),
    (1, 3), (26, 3), (28, 3))

  private def tablesDriftedDir: String = writeEmbeddings(
    DriftPairJs.zipWithIndex.flatMap { case ((j, _), m) =>
      val ct = 0.40f
      val st = math.sqrt(1 - 0.40 * 0.40).toFloat
      val a = Array.fill(64)(0.0f); a(2 * j) = 1.0f
      val b = Array.fill(64)(0.0f); b(2 * j) = ct; b(2 * j + 1) = st
      Seq((10000L + 5 * m, a), (10001L + 5 * m, b))
    })

  test("table drift flags a probe-radius-starved corpus; recalibrate-and-swap turns the dial green") {
    val root = Files.createTempDirectory("graft_tables_store").toString
    val dirH = tablesHealthyDir
    val dirD = tablesDriftedDir

    // v1: identical twins collide in table 0 — the dial picks 1 table
    assert(IndexLifecycle.installDial(spark, root, 1L,
      IndexLifecycle.TablesDial, 1, dirH))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.TablesDial) === 1)
    assert(IndexLifecycle.readDialBaseline(spark, root,
      IndexLifecycle.TablesDial)
      .filter(col("chosen")).head.getLong(0) === 1L)
    val audit1 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.TablesDial, dirH).collect()
    assert(!audit1.exists(_.getBoolean(audit1.head.fieldIndex("recalibrate"))))
    assert(IndexLifecycle
      .recalibrateDial(spark, root,
      IndexLifecycle.TablesDial, dirH).isEmpty)

    // drifted: near-dup mass at cos 0.40 sits past one table's probe
    // radius — exactly q264's miss-near-threshold diagnostic
    val audit2 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.TablesDial, dirD).collect()
    val installedRow = audit2
      .filter(_.getBoolean(audit2.head.fieldIndex("installed"))).head
    assert(installedRow.getLong(installedRow.fieldIndex("recall_ppm")) == 250000L,
      s"drifted corpus at 1 table:\n${audit2.mkString("\n")}")
    assert(installedRow.getBoolean(installedRow.fieldIndex("recalibrate")))

    assert(IndexLifecycle.recalibrateDial(spark, root,
      IndexLifecycle.TablesDial, dirD)
      === Some(2L))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.TablesDial) === 3)
    val audit3 = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.TablesDial, dirD).collect()
    assert(!audit3.exists(_.getBoolean(audit3.head.fieldIndex("recalibrate"))),
      "post-recalibration audit must read green")

    // pairs flow through the store alone: 3 of the 12 planted pairs
    // collide inside one table, the installed 3 tables recover 9
    import graft.operators.{DedupQueries, SimilarityQueries}
    val n = graft.Tables.parquetRowCount(spark, dirD, "embeddings")
    assert(DedupQueries.lshNearDupPairsFrom(DedupQueries.normVecs(spark, dirD),
      SimilarityQueries.codeBits(n), tables = 1).count() === 3L)
    assert(IndexLifecycle.serveDial(spark, root, IndexLifecycle.TablesDial,
      dirD).count() === 9L)

    // replayed install of a committed version is a strict no-op
    assert(!IndexLifecycle.installDial(spark, root, 2L,
      IndexLifecycle.TablesDial, 1, dirH))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.TablesDial) === 3)
  }

  test("the manifest read from the store equals the recomputed manifest (all six pillars installed)") {
    import graft.operators.{Calibration, DedupQueries, MultimodalQueries,
      SimilarityQueries}
    val base = Files.createTempDirectory("graft_manifest_store")
    val (pr, ct, cm, tr) = (base.resolve("probes").toString,
      base.resolve("captext").toString, base.resolve("capmedia").toString,
      base.resolve("tables").toString)
    val cmh = base.resolve("capminhash").toString
    val ccd = base.resolve("capcdc").toString
    // install every pillar from the sf corpus at its dial's own choice
    IndexLifecycle.installDial(spark, pr, 1L, IndexLifecycle.ProbesDial,
      SimilarityQueries.calibratedProbes(spark, sf), sf)
    IndexLifecycle.installDial(spark, ct, 1L, IndexLifecycle.SimhashCapDial,
      DedupQueries.calibratedSimhashCap(spark, sf),
      DedupQueries.textSimhashSigs(spark, sf))
    val media = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), MultimodalQueries.mediaPayload.as("payload"))
    val mediaDial = DedupQueries
      .bucketCapDial(MultimodalQueries.byteSimhashSigs(media))
      .filter(col("chosen")).head.getLong(0).toInt
    IndexLifecycle.installDial(spark, cm, 1L, IndexLifecycle.SimhashCapDial,
      mediaDial, MultimodalQueries.byteSimhashSigs(media))
    IndexLifecycle.installDial(spark, tr, 1L, IndexLifecycle.TablesDial,
      DedupQueries.calibratedLshTables(spark, sf), sf)
    IndexLifecycle.installDial(spark, cmh, 1L, IndexLifecycle.MinhashCapDial,
      DedupQueries.calibratedMinhashCap(spark, sf), sf)
    IndexLifecycle.installDial(spark, ccd, 1L, IndexLifecycle.CdcCapDial,
      MultimodalQueries.calibratedCdcCap(spark, sf), media)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val recomputed = rows(Calibration.manifest(spark, sf))
    val fromStore = rows(
      Calibration.manifestFromStore(spark, pr, ct, cm, tr, cmh, ccd))
    assert(fromStore == recomputed,
      s"store manifest must equal the recomputed manifest:\n$fromStore\nvs\n$recomputed")

    // --- release coherence over the six dial pillars ---
    val rel = base.resolve("release").toString
    val pillars = Map("ivf_probes" -> pr, "simhash_cap_text" -> ct,
      "simhash_cap_media" -> cm, "lsh_tables" -> tr,
      "minhash_cap" -> cmh, "cdc_cap" -> ccd)
    assert(IndexLifecycle.cutRelease(rel, 1L, pillars))
    assert(!IndexLifecycle.cutRelease(rel, 1L, pillars)) // replay no-op
    val fromRelease = rows(Calibration.manifestFromRelease(spark, rel))
    assert(fromRelease == fromStore,
      "a release cut at head must report exactly the store manifest")
    // a single-pillar recalibration moves the STORE manifest but cannot
    // move one row of the release's frame mid-sequence
    IndexLifecycle.installDial(spark, ct, 2L, IndexLifecycle.SimhashCapDial,
      DedupQueries.calibratedSimhashCap(spark, sf),
      DedupQueries.textSimhashSigs(spark, sf))
    assert(rows(Calibration.manifestFromRelease(spark, rel)) == fromRelease,
      "an interposed pillar swap must not move a pinned release's manifest")
    // the next release picks up the new head coherently
    assert(IndexLifecycle.cutRelease(rel, 2L, pillars))
    assert(rows(Calibration.manifestFromRelease(spark, rel)) ==
      rows(Calibration.manifestFromStore(spark, pr, ct, cm, tr, cmh, ccd)))
  }

  test("release-pinned search reads one coherent quantizer pair across interposed single-pillar swaps") {
    import graft.operators.SimilarityQueries
    val base = Files.createTempDirectory("graft_release_search")
    val (centsRoot, bookRoot, pqRoot, rel) =
      (base.resolve("cents").toString, base.resolve("book").toString,
        base.resolve("pqindex").toString, base.resolve("rel").toString)
    val dir = base.resolve("corpus").toString
    corpus.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val old = asVec(oldEpoch(corpus))
    val full = asVec(corpus)
    assert(IndexLifecycle.installQuantizer(spark, centsRoot, 1L, Centroids,
      IndexLifecycle.train(spark, old, k = 2), old))
    assert(IndexLifecycle.installQuantizer(spark, bookRoot, 1L, Codebook,
      IndexLifecycle.trainCodebook(old), old))
    assert(IndexLifecycle.installPqIndex(spark, pqRoot, 1L,
      IndexLifecycle.readQuantizer(spark, centsRoot, Centroids),
      IndexLifecycle.readQuantizer(spark, bookRoot, Codebook), dir))
    assert(IndexLifecycle.cutRelease(rel, 1L, Map(
      "centroids" -> centsRoot, "codebook" -> bookRoot,
      "pq_index" -> pqRoot)))

    def liveRows() =
      IndexLifecycle.searchPqAtRelease(spark, rel, dir).collect().toSeq
    def servedRows() =
      IndexLifecycle.searchPqIndexAtRelease(spark, rel, dir).collect().toSeq
    val live1 = liveRows()
    val served1 = servedRows()
    assert(live1.nonEmpty && served1.nonEmpty)

    // interposed CODEBOOK swap: at both install stages the release must
    // keep serving the pinned v1 pair — never v1 centroids + v2 codebook
    assert(IndexLifecycle.installQuantizer(spark, bookRoot, 2L, Codebook,
      IndexLifecycle.trainCodebook(full), full,
      interpose = stage => {
        assert(liveRows() == live1,
          s"release must serve the pinned pair at codebook-swap '$stage'")
      }))
    assert(liveRows() == live1,
      "release must serve the pinned pair after the codebook swap commits")
    // interposed CENTROID swap too — still the coherent v1 pair
    assert(IndexLifecycle.installQuantizer(spark, centsRoot, 2L, Centroids,
      IndexLifecycle.train(spark, full, k = 3), full))
    assert(liveRows() == live1 && servedRows() == served1,
      "release must pin every pillar until the next release is cut")

    // the next release serves the new coherent pair — and equals a
    // direct read of the new versions composed together
    assert(IndexLifecycle.installPqIndex(spark, pqRoot, 2L,
      IndexLifecycle.readQuantizer(spark, centsRoot, Centroids),
      IndexLifecycle.readQuantizer(spark, bookRoot, Codebook), dir))
    assert(IndexLifecycle.cutRelease(rel, 2L, Map(
      "centroids" -> centsRoot, "codebook" -> bookRoot,
      "pq_index" -> pqRoot)))
    val book2 = IndexLifecycle.readQuantizer(spark, bookRoot, Codebook)
    assert(liveRows() ==
      SimilarityQueries.ivfPqTopKFrom(spark, dir,
        IndexLifecycle.readQuantizer(spark, centsRoot, Centroids), book2,
        knownCodebookRows = Some(book2.count())).collect().toSeq)
    val served2 = servedRows()
    assert(served2 ==
      IndexLifecycle.searchPqIndex(spark, pqRoot, dir).collect().toSeq)

    // retention must respect release pins: with BOTH releases committed,
    // a keep=1 prune may not reclaim pq v=1 (release 1 still serves it)
    val pins = IndexLifecycle.releasePinnedVersions(rel, pqRoot)
    assert(pins === Set(1L, 2L))
    assert(IndexLifecycle.pruneVersions(pqRoot, keep = 1, pinned = pins)
      === ((0, 0)), "every version is release-pinned: nothing to prune")
    val (r1root, r1v) = IndexLifecycle.releaseAt(rel, 1L)("pq_index")
    assert(IndexLifecycle.readPqIndexAt(spark, r1root, r1v)
      ._1.limit(1).count() === 1L,
      "the old release's pinned version must stay servable after the prune")
    // an unpinned prune would have reclaimed v=1 — guard the guard:
    // after retiring release 1, the same prune reclaims it and the
    // latest release still serves
    IndexLifecycle.pruneVersions(rel, keep = 1)
    val pins2 = IndexLifecycle.releasePinnedVersions(rel, pqRoot)
    assert(pins2 === Set(2L))
    val (vDel, _) =
      IndexLifecycle.pruneVersions(pqRoot, keep = 1, pinned = pins2)
    assert(vDel === 1, "retiring the old release frees its pinned version")
    assert(servedRows() == served2,
      "the surviving release must serve unchanged after the prune")
  }

  test("cdc cap pillar: install, read-through, drift audit green at install, saturation recalibrates") {
    import graft.operators.MultimodalQueries
    val root = Files.createTempDirectory("graft_cdc_cap").toString
    val media = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), MultimodalQueries.mediaPayload.as("payload"))
    val chosen = MultimodalQueries.calibratedCdcCap(spark, sf)
    assert(IndexLifecycle.installDial(spark, root, 1L,
      IndexLifecycle.CdcCapDial, chosen, media))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.CdcCapDial) === chosen)
    // read-through equals the calibrated entry point
    val viaStore = IndexLifecycle.serveDial(spark, root,
      IndexLifecycle.CdcCapDial, media).collect()
    val direct = MultimodalQueries.cdcContainmentCalibrated(spark, sf).collect()
    assert(viaStore.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq,
      "store read-through must serve exactly the calibrated pair set")
    // drift audit is green right after install by construction
    val audit = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.CdcCapDial, media).collect()
    assert(!audit.exists(_.getBoolean(audit.head.fieldIndex("recalibrate"))),
      "a freshly installed cap must not flag recalibration")
    assert(IndexLifecycle.recalibrateDial(spark, root,
      IndexLifecycle.CdcCapDial, media).isEmpty)
    // a saturated corpus (one hot payload shared corpus-wide) sags the
    // installed small cap below the floor; the closed loop re-installs
    import spark.implicits._
    def lcgBytes(seed: Long, n: Int): Array[Byte] = {
      var x = seed
      Array.fill(n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 33) & 0xff).toByte
      }
    }
    val hot = lcgBytes(3L, 2048)
    val saturated = (0L until 100L).map(i => (i, hot.clone())).toDF("doc_id", "payload")
    val root2 = Files.createTempDirectory("graft_cdc_cap2").toString
    assert(IndexLifecycle.installDial(spark, root2, 1L,
      IndexLifecycle.CdcCapDial, 16, saturated))
    val v2 = IndexLifecycle.recalibrateDial(spark, root2,
      IndexLifecycle.CdcCapDial, saturated)
    assert(v2 === Some(2L), "a sagging cap must recalibrate to a new version")
    assert(IndexLifecycle.readDial(spark, root2,
      IndexLifecycle.CdcCapDial) === 128,
      "every bucket holds 100 members, so only the 128 cap meets the floor")
  }

  test("minhash cap pillar: install, read-through, replay no-op, drift audit green at install") {
    import graft.operators.DedupQueries
    val root = Files.createTempDirectory("graft_minhash_cap").toString
    val chosen = DedupQueries.calibratedMinhashCap(spark, sf)
    assert(IndexLifecycle.installDial(spark, root, 1L,
      IndexLifecycle.MinhashCapDial, chosen, sf))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.MinhashCapDial) === chosen)
    // readers see exactly the chosen-cap pair set, through the store alone
    val through = IndexLifecycle.serveDial(spark, root,
      IndexLifecycle.MinhashCapDial, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = DedupQueries.minhashPairs(spark, sf, chosen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(through === direct)
    // replayed install of a committed version is a strict no-op
    assert(!IndexLifecycle.installDial(spark, root, 1L,
      IndexLifecycle.MinhashCapDial, chosen + 1, sf))
    assert(IndexLifecycle.readDial(spark, root, IndexLifecycle.MinhashCapDial) === chosen)
    // right after install the audit is green by construction
    assert(IndexLifecycle.recalibrateDial(spark, root,
      IndexLifecycle.MinhashCapDial, sf)
      .isEmpty)
    val audit = IndexLifecycle.dialDriftAudit(spark, root,
      IndexLifecycle.MinhashCapDial, sf).collect()
    assert(audit.count(_.getBoolean(audit.head.fieldIndex("installed"))) == 1)
    assert(!audit.exists(_.getBoolean(audit.head.fieldIndex("recalibrate"))))
    // the install-time evidence rode along: its chosen row is the cap
    val base = IndexLifecycle.readDialBaseline(spark, root,
      IndexLifecycle.MinhashCapDial).collect()
    assert(base.filter(_.getBoolean(base.head.fieldIndex("chosen")))
      .head.getLong(0).toInt === chosen)
  }

  test("pq-index pillar: stored codes serve exactly the live pipeline; swap moves results; replay no-op") {
    import graft.operators.SimilarityQueries
    val root = Files.createTempDirectory("graft_pqindex_store").toString
    val dir = Files.createTempDirectory("graft_pqindex_corpus").toString
    val c = corpus
    c.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // v1: quantizers trained on the OLD epoch, codes for the full corpus
    val cents1 = IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2)
    val book1 = IndexLifecycle.trainCodebook(asVec(oldEpoch(c)))
    assert(IndexLifecycle.installPqIndex(spark, root, 1L, cents1, book1, dir))

    def serve(): Seq[Seq[Any]] =
      IndexLifecycle.searchPqIndex(spark, root, dir).collect()
        .map(_.toSeq).toSeq
    // the stored serve path IS the live pipeline over the same quantizers
    val live1 = SimilarityQueries.ivfPqTopKFrom(spark, dir, cents1, book1)
      .collect().map(_.toSeq).toSeq
    val s1 = serve()
    assert(s1.nonEmpty && s1 == live1,
      "stored codes must serve exactly what the live pipeline derives")
    assert(s1 == serve(), "a fixed version must serve deterministically")

    // replayed install of a committed version is a strict no-op
    assert(!IndexLifecycle.installPqIndex(spark, root, 1L,
      IndexLifecycle.train(spark, asVec(c), k = 3), book1, dir))
    assert(serve() == s1, "replay must not touch the committed artifact")

    // v2: retrained quantizers — one swap moves the SERVED artifact (the
    // codes re-cluster into the new cells) and the read path follows it,
    // again exactly the live pipeline's output. The top-k ROWS may
    // legitimately coincide across versions — the deep ADC prune + exact
    // re-rank is designed to make results robust to quantizer changes —
    // so the pin is on the served artifact and the live-equality, not on
    // result churn.
    val cents2 = IndexLifecycle.train(spark, asVec(c), k = 3)
    val book2 = IndexLifecycle.trainCodebook(asVec(c))
    assert(IndexLifecycle.installPqIndex(spark, root, 2L, cents2, book2, dir))
    val (codes2, storedCents2, _) = IndexLifecycle.readPqIndex(spark, root)
    assert(storedCents2.count() === 3L &&
      codes2.select("cent_id").distinct().count() === 3L,
      "the swap alone must re-cluster the stored codes into v2's cells")
    val live2 = SimilarityQueries.ivfPqTopKFrom(spark, dir, cents2, book2)
      .collect().map(_.toSeq).toSeq
    assert(serve() == live2,
      "the serve path must follow the newly installed version")
  }

  test("pq-index pillar: audit green at install, corpus shift flags, rebuild-and-swap turns it green") {
    val root = Files.createTempDirectory("graft_pqindex_drift").toString
    val dir = Files.createTempDirectory("graft_pqindex_dcorpus").toString
    val c = corpus

    // v1: the served index describes the OLD epoch exactly
    oldEpoch(c).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(IndexLifecycle.installPqIndex(spark, root, 1L,
      IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2),
      IndexLifecycle.trainCodebook(asVec(oldEpoch(c))), dir))
    val a1 = IndexLifecycle.pqIndexDriftAudit(spark, root, dir).collect()
    assert(a1.nonEmpty &&
      a1.forall(_.getLong(a1.head.fieldIndex("shift_ppm")) == 0L),
      s"a freshly installed index must audit green:\n${a1.mkString("\n")}")
    assert(IndexLifecycle.rebuildPqIndexIfDrifted(spark, root, dir, k = 3).isEmpty)

    // the NEW epoch lands: e2 mass crowds one old cell far past the dial
    c.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val a2 = IndexLifecycle.pqIndexDriftAudit(spark, root, dir).collect()
    assert(a2.exists(_.getBoolean(a2.head.fieldIndex("rebalance"))),
      s"a shifted corpus must flag the served index:\n${a2.mkString("\n")}")

    // closed loop: retrain both quantizers, re-code, atomic swap — green
    assert(IndexLifecycle.rebuildPqIndexIfDrifted(spark, root, dir, k = 3)
      === Some(2L))
    assert(IndexLifecycle.latestVersion(root) === Some(2L))
    val a3 = IndexLifecycle.pqIndexDriftAudit(spark, root, dir).collect()
    assert(a3.nonEmpty &&
      !a3.exists(_.getBoolean(a3.head.fieldIndex("rebalance"))),
      s"post-rebuild audit must read green:\n${a3.mkString("\n")}")
    // a second loop pass is a no-op
    assert(IndexLifecycle.rebuildPqIndexIfDrifted(spark, root, dir, k = 3).isEmpty)
  }

  test("pq-index pillar: append codes new arrivals against the installed quantizers, identical to a full rebuild on the union") {
    val root = Files.createTempDirectory("graft_pqindex_append").toString
    val dir = Files.createTempDirectory("graft_pqindex_acorpus").toString
    // balanced two-cluster base and growth: the arrivals keep the cell
    // masses (half e0, half e1), so the drift audit stays green and the
    // maintenance pass must take the APPEND path, never a rebuild
    def mk(ids: Range): DataFrame = {
      import spark.implicits._
      ids.map { i =>
        val v = Array.fill(64)(0.0f)
        v(i % 2) = 1.0f
        v(10) = 0.01f * (i % 7)
        (i.toLong, v)
      }.toDF("vec_id", "embedding")
    }
    def vecsAt(d: String): DataFrame =
      spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))

    mk(0 until 80).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(IndexLifecycle.installPqIndex(spark, root, 1L,
      IndexLifecycle.train(spark, vecsAt(dir), k = 2),
      IndexLifecycle.trainCodebook(vecsAt(dir)), dir))

    // no new arrivals: append (and the whole maintenance pass) is a no-op
    assert(IndexLifecycle.appendPqIndex(spark, root, dir).isEmpty)
    assert(IndexLifecycle.maintainPqIndex(spark, root, dir, k = 2).isEmpty)

    // the corpus doubles with the same distribution — green audit, so
    // maintenance appends instead of rebuilding
    mk(0 until 160).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val audit = IndexLifecycle.pqIndexDriftAudit(spark, root, dir).collect()
    assert(!audit.exists(_.getBoolean(audit.head.fieldIndex("rebalance"))),
      s"distribution-preserving growth must not flag:\n${audit.mkString("\n")}")
    assert(IndexLifecycle.maintainPqIndex(spark, root, dir, k = 2)
      === Some((2L, "append")))

    // the appended version's codes are IDENTICAL to a full rebuild's on
    // the union corpus under the same (v1-stored) quantizers
    val (codes2, cents2, book2) = IndexLifecycle.readPqIndexAt(spark, root, 2L)
    assert(codes2.count() === 160L)
    val root2 = Files.createTempDirectory("graft_pqindex_rebuild").toString
    assert(IndexLifecycle.installPqIndex(spark, root2, 1L, cents2, book2, dir))
    val (codesR, _, _) = IndexLifecycle.readPqIndexAt(spark, root2, 1L)
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.orderBy("vec_id").collect().map(_.toSeq.map {
        case w: Seq[_] => w.toList
        case x => x
      }).toSeq
    assert(rows(codes2) == rows(codesR),
      "append-installed codes must equal a full rebuild's on the union")
    // and the serve paths agree row-for-row
    assert(IndexLifecycle.searchPqIndex(spark, root, dir).collect().toSeq
      == IndexLifecycle.searchPqIndex(spark, root2, dir).collect().toSeq)

    // replayed append with no fresh arrivals: strict no-op
    assert(IndexLifecycle.appendPqIndex(spark, root, dir).isEmpty)
    assert(IndexLifecycle.latestVersion(root) === Some(2L))
  }

  test("a drift rebuild preserves the installed quantizer dials through the trainer seams") {
    val root = Files.createTempDirectory("graft_pqindex_dials").toString
    val dir = Files.createTempDirectory("graft_pqindex_dialcorpus").toString
    val c = corpus
    def vecsAt(d: String): DataFrame =
      spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
    // the installed dial: a 2-entry-per-subspace codebook cap (stand-in
    // for q281's fixed 256 — at spec scale the production cap can't bind)
    val capBook: String => DataFrame =
      d => IndexLifecycle.trainCodebook(vecsAt(d)).filter(col("crk") <= 2)
    val kCents: String => DataFrame =
      d => IndexLifecycle.train(spark, vecsAt(d), k = 3)

    oldEpoch(c).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(IndexLifecycle.installPqIndex(spark, root, 1L,
      IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2),
      capBook(dir), dir))

    // the NEW epoch lands — drift flags, and the rebuild must re-apply
    // the INSTALLED dials, not fall back to the share-form trainers
    c.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(IndexLifecycle.maintainPqIndex(spark, root, dir, k = 3,
      trainCents = Some(kCents), trainBook = Some(capBook))
      === Some((2L, "rebuild")))
    val (_, cents2, book2) = IndexLifecycle.readPqIndexAt(spark, root, 2L)
    assert(cents2.count() === 3L, "rebuild must apply the cents trainer")
    val maxRk = book2.agg(max(col("crk"))).head.getLong(0)
    assert(maxRk === 2L,
      s"rebuild must preserve the installed codebook cap (max crk $maxRk)")
    // green after the rebuild, and the new version serves
    val a = IndexLifecycle.pqIndexDriftAudit(spark, root, dir).collect()
    assert(!a.exists(_.getBoolean(a.head.fieldIndex("rebalance"))))
    assert(IndexLifecycle.searchPqIndex(spark, root, dir).count() > 0)
  }

  test("a centroid-pillar swap moves SemDeDup, prototypicality and filtered search through the store alone") {
    val root = Files.createTempDirectory("graft_sel_store").toString
    val dir = Files.createTempDirectory("graft_sel_corpus").toString
    val c = corpus
    c.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // v1: trained and baselined on the OLD epoch only — two cells
    IndexLifecycle.installQuantizer(spark, root, 1L, Centroids,
      IndexLifecycle.train(spark, asVec(oldEpoch(c)), k = 2), asVec(oldEpoch(c)))

    def sd() = IndexLifecycle.semDedupAt(spark, root, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    def pr() = IndexLifecycle.prototypicalityAt(spark, root, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(5))).toSeq
    def fs() = IndexLifecycle.searchFiltered(spark, root, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // the LIVE batch operators (LCG centroid sample) are the control: a
    // pillar swap must not move them
    def liveSd() = SparkEntry.queries("q230_semdedup")(spark, dir).collect()
      .map(_.toSeq).toSeq

    val (sd1, pr1, fs1, live1) = (sd(), pr(), fs(), liveSd())
    assert(sd1.nonEmpty && sd1 == sd() && pr1 == pr() && fs1 == fs(),
      "store-routed selection must be deterministic at a fixed version")
    assert(sd1.map(_._2).toSet.size === 2 && pr1.map(_._2).toSet.size === 2,
      "v1 membership must live in v1's two cells")

    // swap: retrain on the full corpus with room for the new e2 cluster
    IndexLifecycle.installQuantizer(spark, root, 2L, Centroids,
      IndexLifecycle.train(spark, asVec(c), k = 3), asVec(c))
    val (sd2, pr2, fs2, live2) = (sd(), pr(), fs(), liveSd())
    assert(sd2.map(_._2).toSet.size === 3 && pr2.map(_._2).toSet.size === 3,
      "the swap alone must re-cluster selection membership into v2's three cells")
    assert(sd2 != sd1 && pr2 != pr1,
      "selection verdicts must move with the installed pillar")
    assert(fs2 == fs() && sd2 == sd(),
      "the new version must serve deterministically too")
    assert(live2 == live1,
      "the live-centroid batch queries must be untouched by a store swap")
  }

  // ---------- stored postings pillars (SimHash / MinHash / LSH / CDC) ----------

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case w: Seq[_] => w.toList
      case x => x
    }).toSet

  private def mediaOf(dir: String): DataFrame = {
    import graft.operators.MultimodalQueries
    Tables.documents(spark, dir)
      .select(col("doc_id"), MultimodalQueries.mediaPayload.as("payload"))
  }

  test("stored postings serve exactly the live pair sets (all four families); replay no-op; cap swap moves results") {
    import graft.operators.{DedupQueries, MultimodalQueries, SimilarityQueries}
    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    val bits = SimilarityQueries.codeBits(n)

    // SimHash
    val shRoot = Files.createTempDirectory("graft_shpost").toString
    val shSigs = DedupQueries.textSimhashSigs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, shRoot, 1L,
      IndexLifecycle.SimhashPostings, shSigs, Seq(DedupQueries.MaxBucket)))
    val shLive = rowSet(SparkEntry.queries("q40_dedup_simhash")(spark, sf))
    assert(shLive.nonEmpty &&
      rowSet(IndexLifecycle.pairsFromStore(spark, shRoot,
        IndexLifecycle.SimhashPostings)) == shLive,
      "stored SimHash postings must serve exactly q40's live pair set")
    // replay no-op
    assert(!IndexLifecycle.installPostings(spark, shRoot, 1L,
      IndexLifecycle.SimhashPostings, shSigs.limit(1),
      Seq(DedupQueries.MaxBucket)))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, shRoot,
      IndexLifecycle.SimhashPostings)) == shLive)
    // cap swap: readers follow the installed version's cap alone
    assert(IndexLifecycle.installPostings(spark, shRoot, 2L,
      IndexLifecycle.SimhashPostings, shSigs, Seq(2)))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, shRoot,
      IndexLifecycle.SimhashPostings)) ==
      rowSet(DedupQueries.simhashNearDupPairsUnsorted(shSigs, cap = 2)
        .orderBy("doc_a", "doc_b")),
      "a cap swap must move the served pairs exactly as the live cap does")

    // MinHash
    val mhRoot = Files.createTempDirectory("graft_mhpost").toString
    assert(IndexLifecycle.installPostings(spark, mhRoot, 1L,
      IndexLifecycle.MinhashPostings,
      DedupQueries.minhashSignatures(spark, sf), Seq(DedupQueries.MaxBucket)))
    val mhLive = rowSet(SparkEntry.queries("q39_dedup_minhash_lsh")(spark, sf))
    assert(mhLive.nonEmpty &&
      rowSet(IndexLifecycle.pairsFromStore(spark, mhRoot,
        IndexLifecycle.MinhashPostings)) == mhLive,
      "stored MinHash postings must serve exactly q39's live pair set")

    // LSH
    val lshRoot = Files.createTempDirectory("graft_lshpost").toString
    assert(IndexLifecycle.installPostings(spark, lshRoot, 1L,
      IndexLifecycle.LshPostings(sf), DedupQueries.normVecs(spark, sf),
      Seq(bits, DedupQueries.LshTables)))
    val lshLive = rowSet(SparkEntry.queries("q67_dedup_embedding_lsh")(spark, sf))
    assert(lshLive.nonEmpty &&
      rowSet(IndexLifecycle.pairsFromStore(spark, lshRoot,
        IndexLifecycle.LshPostings(sf))) == lshLive,
      "stored LSH codes must serve exactly q67's live pair set")

    // CDC
    val cdcRoot = Files.createTempDirectory("graft_cdcpost").toString
    assert(IndexLifecycle.installPostings(spark, cdcRoot, 1L,
      IndexLifecycle.CdcPostings, mediaOf(sf), Seq(DedupQueries.MaxBucket)))
    val cdcLive = rowSet(
      SparkEntry.queries("q253_media_cdc_containment")(spark, sf))
    assert(cdcLive.nonEmpty &&
      rowSet(IndexLifecycle.pairsFromStore(spark, cdcRoot,
        IndexLifecycle.CdcPostings)) == cdcLive,
      "stored CDC chunk postings must serve exactly q253's live pair set")
  }

  test("batch admission against stored postings == full rebuild on the union, touching pairs (all four families)") {
    import graft.operators.{DedupQueries, MultimodalQueries, SimilarityQueries}
    // store holds ~6/7 of the corpus; the remaining ~1/7 arrives as the
    // new batch — expected pair sets are the LIVE full-corpus queries
    // restricted to pairs with >=1 batch member
    val isBatch = (c: String) => col(c) % 7 === 0
    def touching(df: DataFrame, a: String, b: String): Set[Seq[Any]] =
      rowSet(df.filter(isBatch(a) || isBatch(b)))

    // SimHash
    val shRoot = Files.createTempDirectory("graft_shadmit").toString
    val shSigs = DedupQueries.textSimhashSigs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, shRoot, 1L,
      IndexLifecycle.SimhashPostings, shSigs.filter(col("doc_id") % 7 =!= 0),
      Seq(DedupQueries.MaxBucket)))
    val shBatch = shSigs.filter(col("doc_id") % 7 === 0)
    val shExp = touching(
      SparkEntry.queries("q40_dedup_simhash")(spark, sf), "doc_a", "doc_b")
    assert(shExp.nonEmpty &&
      rowSet(IndexLifecycle.batchPairs(spark, shRoot,
        IndexLifecycle.SimhashPostings, shBatch)) == shExp,
      "SimHash batch admission must equal the union rebuild's touching pairs")
    // append commits the union; the serve path then equals live q40
    assert(IndexLifecycle.appendPostings(spark, shRoot,
      IndexLifecycle.SimhashPostings, shBatch)
      === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, shRoot,
      IndexLifecycle.SimhashPostings)) ==
      rowSet(SparkEntry.queries("q40_dedup_simhash")(spark, sf)))
    // replayed append of already-stored docs: no-op
    assert(IndexLifecycle.appendPostings(spark, shRoot,
      IndexLifecycle.SimhashPostings, shBatch).isEmpty)

    // MinHash
    val mhRoot = Files.createTempDirectory("graft_mhadmit").toString
    val mhSigs = DedupQueries.minhashSignatures(spark, sf)
    assert(IndexLifecycle.installPostings(spark, mhRoot, 1L,
      IndexLifecycle.MinhashPostings, mhSigs.filter(col("doc_id") % 7 =!= 0),
      Seq(DedupQueries.MaxBucket)))
    val mhBatch = mhSigs.filter(col("doc_id") % 7 === 0)
    val mhExp = touching(
      SparkEntry.queries("q39_dedup_minhash_lsh")(spark, sf), "doc_a", "doc_b")
    assert(mhExp.nonEmpty &&
      rowSet(IndexLifecycle.batchPairs(spark, mhRoot,
        IndexLifecycle.MinhashPostings, mhBatch)) == mhExp,
      "MinHash batch admission must equal the union rebuild's touching pairs")
    assert(IndexLifecycle.appendPostings(spark, mhRoot,
      IndexLifecycle.MinhashPostings, mhBatch)
      === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, mhRoot,
      IndexLifecycle.MinhashPostings)) ==
      rowSet(SparkEntry.queries("q39_dedup_minhash_lsh")(spark, sf)))

    // LSH — batch codes must come from the INSTALLED planes/width (the
    // full-corpus code width, as a production store would have installed)
    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    val bits = SimilarityQueries.codeBits(n)
    val lshRoot = Files.createTempDirectory("graft_lshadmit").toString
    val vecs = DedupQueries.normVecs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, lshRoot, 1L,
      IndexLifecycle.LshPostings(sf), vecs.filter(col("vec_id") % 7 =!= 0),
      Seq(bits, DedupQueries.LshTables)))
    val lshBatch = vecs.filter(col("vec_id") % 7 === 0)
    val lshExp = touching(
      SparkEntry.queries("q67_dedup_embedding_lsh")(spark, sf), "vec_a", "vec_b")
    assert(lshExp.nonEmpty &&
      rowSet(IndexLifecycle.batchPairs(spark, lshRoot,
        IndexLifecycle.LshPostings(sf), lshBatch))
        == lshExp,
      "LSH batch admission must equal the union rebuild's touching pairs")
    assert(IndexLifecycle.appendPostings(spark, lshRoot,
      IndexLifecycle.LshPostings(sf), lshBatch)
      === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, lshRoot,
      IndexLifecycle.LshPostings(sf))) ==
      rowSet(SparkEntry.queries("q67_dedup_embedding_lsh")(spark, sf)))
    // a TRULY new vector (id absent from the corpus dir) must still
    // confirm — its floats live only in the batch until it is appended
    val v0 = vecs.orderBy("vec_id").head.getLong(0)
    val clone = vecs.orderBy("vec_id").limit(1)
      .select((col("vec_id") + 1000000000L).as("vec_id"), col("v"),
        col("nrm"))
    val cp = IndexLifecycle.batchPairs(spark, lshRoot,
      IndexLifecycle.LshPostings(sf), clone).collect()
    assert(cp.exists(r => r.getLong(0) == v0 &&
        r.getLong(1) == v0 + 1000000000L),
      s"a new vector must pair with its identical source: ${cp.toSeq}")

    // CDC — df and sizes must be priced over the UNION, so containment
    // verdicts match the full rebuild even where the batch moved df
    val cdcRoot = Files.createTempDirectory("graft_cdcadmit").toString
    val media = mediaOf(sf)
    assert(IndexLifecycle.installPostings(spark, cdcRoot, 1L,
      IndexLifecycle.CdcPostings, media.filter(col("doc_id") % 7 =!= 0),
      Seq(DedupQueries.MaxBucket)))
    val cdcBatch = media.filter(col("doc_id") % 7 === 0)
    val cdcExp = touching(
      SparkEntry.queries("q253_media_cdc_containment")(spark, sf),
      "doc_a", "doc_b")
    assert(cdcExp.nonEmpty &&
      rowSet(IndexLifecycle.batchPairs(spark, cdcRoot,
        IndexLifecycle.CdcPostings, cdcBatch)) == cdcExp,
      "CDC batch admission must equal the union rebuild's touching pairs")
    assert(IndexLifecycle.appendPostings(spark, cdcRoot,
      IndexLifecycle.CdcPostings, cdcBatch)
      === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, cdcRoot,
      IndexLifecycle.CdcPostings)) ==
      rowSet(SparkEntry.queries("q253_media_cdc_containment")(spark, sf)))
    assert(IndexLifecycle.appendPostings(spark, cdcRoot,
      IndexLifecycle.CdcPostings, cdcBatch).isEmpty)
  }

  test("takedown: a deleted doc vanishes from every serve path (pq codes + all four postings pillars)") {
    import spark.implicits._
    import graft.operators.{DedupQueries, SimilarityQueries}

    // --- PQ index: delete two coded vectors; the new version serves the
    // survivors only, quantizers untouched, audit baseline re-priced
    val pqRoot = Files.createTempDirectory("graft_td_pq").toString
    val pqDir = Files.createTempDirectory("graft_td_pqc").toString
    corpus.coalesce(1).write.mode("overwrite")
      .parquet(s"$pqDir/embeddings.parquet")
    assert(IndexLifecycle.installPqIndex(spark, pqRoot, 1L,
      IndexLifecycle.train(spark, asVec(corpus), k = 3),
      IndexLifecycle.trainCodebook(asVec(corpus)), pqDir))
    val del = Seq(7L, 41L).toDF("vec_id")
    // unknown ids: replay no-op
    assert(IndexLifecycle.takedownPqIndex(spark, pqRoot,
      Seq(999L).toDF("vec_id")).isEmpty)
    assert(IndexLifecycle.takedownPqIndex(spark, pqRoot, del) === Some(2L))
    val (codes2, _, _) = IndexLifecycle.readPqIndexAt(spark, pqRoot, 2L)
    assert(codes2.count() === 78L &&
      codes2.filter(col("vec_id").isin(7L, 41L)).count() === 0L,
      "deleted vec_ids must leave the stored codes")
    val served = IndexLifecycle.searchPqIndex(spark, pqRoot, pqDir)
      .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty && !served.contains(7L) && !served.contains(41L),
      "a deleted vec must never be served as a neighbor")
    // a second takedown of the same ids is a no-op
    assert(IndexLifecycle.takedownPqIndex(spark, pqRoot, del).isEmpty)

    // --- postings pillars: takedown == rebuild on the post-deletion
    // corpus, for each family (the strongest equality available)
    val byDoc = col("doc_id") % 5 === 2
    val byVec = col("vec_id") % 5 === 2

    val shRoot = Files.createTempDirectory("graft_td_sh").toString
    val shSigs = DedupQueries.textSimhashSigs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, shRoot, 1L,
      IndexLifecycle.SimhashPostings, shSigs, Seq(DedupQueries.MaxBucket)))
    assert(IndexLifecycle.takedownPostings(spark, shRoot,
      IndexLifecycle.SimhashPostings, shSigs.filter(byDoc).select("doc_id")) === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, shRoot,
      IndexLifecycle.SimhashPostings)) ==
      rowSet(DedupQueries.simhashNearDupPairsUnsorted(shSigs.filter(!byDoc))
        .orderBy("doc_a", "doc_b")),
      "SimHash takedown must equal a rebuild on the post-deletion corpus")

    val mhRoot = Files.createTempDirectory("graft_td_mh").toString
    val mhSigs = DedupQueries.minhashSignatures(spark, sf)
    assert(IndexLifecycle.installPostings(spark, mhRoot, 1L,
      IndexLifecycle.MinhashPostings, mhSigs, Seq(DedupQueries.MaxBucket)))
    assert(IndexLifecycle.takedownPostings(spark, mhRoot,
      IndexLifecycle.MinhashPostings, mhSigs.filter(byDoc).select("doc_id")) === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, mhRoot,
      IndexLifecycle.MinhashPostings)) ==
      rowSet(IndexLifecycle.pairsFromStore(spark, {
        val r = Files.createTempDirectory("graft_td_mh2").toString
        IndexLifecycle.installPostings(spark, r, 1L,
          IndexLifecycle.MinhashPostings, mhSigs.filter(!byDoc),
          Seq(DedupQueries.MaxBucket)); r
      }, IndexLifecycle.MinhashPostings)),
      "MinHash takedown must equal a rebuild on the post-deletion corpus")

    val lshRoot = Files.createTempDirectory("graft_td_lsh").toString
    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    val bits = SimilarityQueries.codeBits(n)
    val vecs = DedupQueries.normVecs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, lshRoot, 1L,
      IndexLifecycle.LshPostings(sf), vecs, Seq(bits, DedupQueries.LshTables)))
    assert(IndexLifecycle.takedownPostings(spark, lshRoot,
      IndexLifecycle.LshPostings(sf), vecs.filter(byVec).select("vec_id"))
      === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, lshRoot,
      IndexLifecycle.LshPostings(sf))) ==
      rowSet(DedupQueries.lshNearDupPairsFrom(vecs.filter(!byVec), bits)
        .orderBy("vec_a", "vec_b")),
      "LSH takedown must equal a rebuild on the post-deletion corpus")

    val cdcRoot = Files.createTempDirectory("graft_td_cdc").toString
    val media = mediaOf(sf)
    assert(IndexLifecycle.installPostings(spark, cdcRoot, 1L,
      IndexLifecycle.CdcPostings, media, Seq(DedupQueries.MaxBucket)))
    assert(IndexLifecycle.takedownPostings(spark, cdcRoot,
      IndexLifecycle.CdcPostings, media.filter(byDoc).select("doc_id")) === Some(2L))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, cdcRoot,
      IndexLifecycle.CdcPostings)) ==
      rowSet(graft.operators.MultimodalQueries
        .cdcContainmentPairs(media.filter(!byDoc))),
      "CDC takedown must equal a rebuild on the post-deletion corpus")
  }

  test("postings-pillar serving caps audit and recalibrate through the store; a cap swap carries the artifact by copy") {
    import graft.operators.{DedupQueries, SimilarityQueries}

    // SimHash: the full drift loop on the planted saturation fixture —
    // this dial reads ONLY the stored signature frame, no corpus at all
    val root = Files.createTempDirectory("graft_postcap").toString
    assert(IndexLifecycle.installPostings(spark, root, 1L,
      IndexLifecycle.SimhashPostings, sigsOf(healthyRows), Seq(16)))
    val a1 = IndexLifecycle.postingsAudit(spark, root,
      IndexLifecycle.SimhashPostings, ()).collect()
    assert(!a1.exists(_.getBoolean(a1.head.fieldIndex("recalibrate"))),
      s"healthy install must audit green:\n${a1.mkString("\n")}")
    assert(IndexLifecycle.recalibratePostings(spark, root,
      IndexLifecycle.SimhashPostings, ()).isEmpty)

    // the saturated family ARRIVES THROUGH THE APPEND PATH — drift
    // reaches the pillar the way production drift does
    assert(IndexLifecycle.appendPostings(spark, root,
      IndexLifecycle.SimhashPostings, sigsOf(driftedRows)) === Some(2L))
    val a2 = IndexLifecycle.postingsAudit(spark, root,
      IndexLifecycle.SimhashPostings, ()).collect()
    assert(a2.exists(_.getBoolean(a2.head.fieldIndex("recalibrate"))),
      s"the appended saturation must flag the serving cap:\n${a2.mkString("\n")}")

    // recalibrate: v3 carries sigs/postings by copy, only capcfg moves —
    // and the serve path recovers the planted family through the store
    assert(IndexLifecycle.recalibratePostings(spark, root,
      IndexLifecycle.SimhashPostings, ())
      === Some(3L))
    val cap3 = IndexLifecycle.readPostings(spark, root,
      IndexLifecycle.SimhashPostings.layout).cfg.head
    assert(cap3 === 128)
    assert(IndexLifecycle.pairsFromStore(spark, root,
      IndexLifecycle.SimhashPostings).count()
      === 69L * 35L + 10L,
      "the recalibrated cap must recover the saturated family")
    val a3 = IndexLifecycle.postingsAudit(spark, root,
      IndexLifecycle.SimhashPostings, ()).collect()
    assert(!a3.exists(_.getBoolean(a3.head.fieldIndex("recalibrate"))))
    assert(IndexLifecycle.recalibratePostings(spark, root,
      IndexLifecycle.SimhashPostings, ()).isEmpty)

    // MinHash / CDC / LSH: green-at-install + no-op loop on the sf corpus
    val mhRoot = Files.createTempDirectory("graft_postcap_mh").toString
    assert(IndexLifecycle.installPostings(spark, mhRoot, 1L,
      IndexLifecycle.MinhashPostings,
      DedupQueries.minhashSignatures(spark, sf), Seq(DedupQueries.MaxBucket)))
    val ma = IndexLifecycle.postingsAudit(spark, mhRoot,
      IndexLifecycle.MinhashPostings, sf).collect()
    assert(ma.exists(_.getBoolean(ma.head.fieldIndex("installed"))) &&
      !ma.exists(_.getBoolean(ma.head.fieldIndex("recalibrate"))))
    assert(IndexLifecycle.recalibratePostings(spark, mhRoot,
      IndexLifecycle.MinhashPostings, sf)
      .isEmpty)

    val cdcRoot = Files.createTempDirectory("graft_postcap_cdc").toString
    val media = mediaOf(sf)
    assert(IndexLifecycle.installPostings(spark, cdcRoot, 1L,
      IndexLifecycle.CdcPostings, media, Seq(DedupQueries.MaxBucket)))
    val ca = IndexLifecycle.postingsAudit(spark, cdcRoot,
      IndexLifecycle.CdcPostings, media).collect()
    assert(ca.exists(_.getBoolean(ca.head.fieldIndex("installed"))) &&
      !ca.exists(_.getBoolean(ca.head.fieldIndex("recalibrate"))))
    assert(IndexLifecycle.recalibratePostings(spark, cdcRoot,
      IndexLifecycle.CdcPostings, media)
      .isEmpty)

    val lshRoot = Files.createTempDirectory("graft_postcap_lsh").toString
    assert(IndexLifecycle.installPostings(spark, lshRoot, 1L,
      IndexLifecycle.LshPostings(sf), DedupQueries.normVecs(spark, sf),
      Seq(SimilarityQueries.codeBits(
        Tables.parquetRowCount(spark, sf, "embeddings")), DedupQueries.LshTables)))
    val la = IndexLifecycle.postingsAudit(spark, lshRoot,
      IndexLifecycle.LshPostings(sf), ()).collect()
    assert(la.exists(_.getBoolean(la.head.fieldIndex("installed"))) &&
      !la.exists(_.getBoolean(la.head.fieldIndex("recalibrate"))))
    assert(IndexLifecycle.recalibratePostings(spark, lshRoot,
      IndexLifecycle.LshPostings(sf), ())
      .isEmpty)
  }

  test("takedown: chunk refcounts GC at zero and span ownership hands to the next-earliest occurrence") {
    import spark.implicits._
    // chunk store: cfp 100 solely doc 1's (gc), cfp 200 owned by doc 1
    // but also filed by docs 3 and 5 (handoff + decrement), cfp 300
    // untouched by the deletion
    val chunks = Seq((1L, 100L), (1L, 200L), (3L, 200L), (5L, 200L),
      (3L, 300L)).toDF("doc_id", "cfp")
    val ledger = IndexLifecycle.chunkStoreTakedown(chunks,
        Seq(1L).toDF("doc_id"))
      .orderBy("cfp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(ledger === Seq(
      (100L, 1L, 1L, -1L, 0L, true),   // last reference died: GC
      (200L, 1L, 3L, 3L, 2L, false),   // owner handoff to doc 3
      (300L, 3L, 1L, 3L, 1L, false)))  // untouched

    // span ownership: wh 10 owned by deleted doc 1, doc 4 re-surfaces;
    // wh 20 owned by doc 1 alone — dies; wh 30 owned by surviving doc 2
    // (NOT orphaned — must not appear)
    val wins = Seq((10L, 1L, 5L), (10L, 4L, 9L), (20L, 1L, 7L),
      (30L, 2L, 0L)).toDF("wh", "doc_id", "pos")
    val handoff = IndexLifecycle.spanOwnershipHandoff(wins,
        Seq(1L).toDF("doc_id"))
      .orderBy("doc_before", "pos_before").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(handoff === Seq(
      (1L, 5L, 4L, 9L),    // suppressed duplicate re-surfaces
      (1L, 7L, -1L, -1L))) // window died with its only doc
  }

  // ---------- manifest-referenced segment store (r15) ----------

  private def bytesUnder(p: java.nio.file.Path): Long = {
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally st.close()
  }

  private def segDirsOf(root: String): Set[String] = {
    val segs = java.nio.file.Paths.get(root, "segments")
    if (!Files.exists(segs)) return Set.empty
    val st = Files.list(segs)
    try st.iterator().asScala.map(_.getFileName.toString).toSet
    finally st.close()
  }

  private def manifestRefs(root: String, v: Long): Set[String] = {
    val mf = java.nio.file.Paths.get(root, s"v=$v", "manifest.tsv")
    Files.readAllLines(mf).asScala.map(_.split("\t", 2)(1)).toSet
  }

  private def filesUnderRefs(root: String, refs: Set[String]): Long =
    refs.toSeq.map { r =>
      val st = Files.walk(java.nio.file.Paths.get(root, r))
      try st.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet"))
      finally st.close()
    }.sum.toLong

  test("append commits are delta-sized manifest references; prune + compaction bound disk and file count; orphan GC is age-gated") {
    import graft.operators.DedupQueries
    val root = Files.createTempDirectory("graft_manifest").toString
    val sigs = DedupQueries.textSimhashSigs(spark, sf)

    // v1: full install of ~4/7 of the corpus
    assert(IndexLifecycle.installPostings(spark, root, 1L,
      IndexLifecycle.SimhashPostings, sigs.filter(col("doc_id") % 7 >= 3),
      Seq(DedupQueries.MaxBucket)))
    val segsV1 = segDirsOf(root)
    val bytesV1 = bytesUnder(java.nio.file.Paths.get(root))

    // three appends (doc_id % 7 == 0, 1, 2) — each commit must reference
    // the carried segments (zero copied bytes) and add only delta segments
    (0 until 3).foreach { m =>
      val before = manifestRefs(root, 1L + m)
      assert(IndexLifecycle.appendPostings(spark, root,
        IndexLifecycle.SimhashPostings, sigs.filter(col("doc_id") % 7 === m)) === Some(2L + m))
      val after = manifestRefs(root, 2L + m)
      // base artifacts (sigs/postings) carry by reference; the derived
      // probe-ready `balls` segment rebuilds whole per commit (bucket
      // size is a union property), so it is exempt from the carry rule
      assert(before.filterNot(_.contains("/balls-")).subsetOf(after),
        "an append must carry every prior base segment by reference")
      assert(after.exists(_.contains("/balls-")),
        "an append must commit a fresh probe-ready balls segment")
      // the commit directory itself holds only KB-scale scalars+manifest
      assert(bytesUnder(java.nio.file.Paths.get(root, s"v=${2L + m}")) < 65536,
        "a version directory must hold no data bytes — segments only")
    }
    // the store holds ONE copy of the carried index: every v1 segment
    // directory is still the same on-disk artifact (never re-written)
    assert(segsV1.subsetOf(segDirsOf(root)))
    // served pairs after the three appends == live full corpus
    val live = rowSet(SparkEntry.queries("q40_dedup_simhash")(spark, sf))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, root,
      IndexLifecycle.SimhashPostings)) == live)

    // file count: appends accumulated >= 4 postings segments; compaction
    // folds them into one segment per artifact with fewer files
    val refsBefore = manifestRefs(root, 4L)
    assert(refsBefore.size >= 8,
      s"3 appends over 2 artifacts must accumulate segments: $refsBefore")
    val filesBefore = filesUnderRefs(root, refsBefore)
    assert(IndexLifecycle.compactPostings(spark, root,
      IndexLifecycle.SimhashPostings) === Some(5L))
    val refsAfter = manifestRefs(root, 5L)
    assert(refsAfter.size === 3,
      s"compaction must leave one segment per artifact (sigs, postings, " +
        s"and the carried balls): $refsAfter")
    assert(filesUnderRefs(root, refsAfter) < filesBefore,
      "compaction must shrink the physical file count")
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, root,
      IndexLifecycle.SimhashPostings)) == live,
      "a compacted version must serve identical pairs")
    // idempotence: single-segment artifacts have nothing to compact
    assert(IndexLifecycle.compactPostings(spark, root,
      IndexLifecycle.SimhashPostings).isEmpty)

    // retention: keep only the compacted head; the superseded delta
    // segments (referenced by dropped manifests only) are reclaimed and
    // disk returns to ~one index (compacted segments + KB of scalars)
    val (vDel, sDel) = IndexLifecycle.pruneVersions(root, keep = 1)
    assert(vDel === 4 && sDel >= 8, s"prune deleted ($vDel, $sDel)")
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, root,
      IndexLifecycle.SimhashPostings)) == live,
      "a pruned store must serve the latest version unchanged")
    assert(segDirsOf(root) == refsAfter.map(_.stripPrefix("segments/")),
      "after prune, disk holds exactly the kept manifest's segments")
    assert(bytesUnder(java.nio.file.Paths.get(root)) < 2 * bytesV1,
      "disk after appends+compact+prune must be ~one index, not one per version")

    // orphan GC: a segment no manifest references (a failed or racing
    // commit's debris) is reclaimed only past the age gate
    val orphan = Files.createTempDirectory(
      java.nio.file.Paths.get(root, "segments"), "sigs-orphan")
    Files.write(orphan.resolve("part-orphan.parquet"), Array[Byte](1, 2, 3))
    assert(IndexLifecycle.gcOrphanSegments(root, minAgeMs = 3600000L) === 0,
      "a fresh unreferenced segment may be an in-flight commit: not swept")
    assert(IndexLifecycle.gcOrphanSegments(root, minAgeMs = 0L) === 1)
    assert(!Files.exists(orphan))
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, root,
      IndexLifecycle.SimhashPostings)) == live)
  }

  test("lsh confirm guard names a planted pathological bucket's mass; the dial absorbs it; no candidate is ever dropped") {
    import graft.operators.{DedupQueries, SimilarityQueries}
    // 40 identical-direction unit vectors (tiny same-sign jitter keeps
    // ids distinct but every sign-LSH code equal): ONE bucket per table
    // holds all 40 — C(40,2)=780 candidate pairs per probed bucket, the
    // planted mass — plus 24 spread decoys
    val rows = (0 until 40).map { i =>
      val v = Array.fill(64)(0.001f); v(0) = 1.0f; v(5) = 0.002f + 1e-5f * i
      (i.toLong, v)
    } ++ (0 until 24).map { i =>
      val v = Array.fill(64)(0.0f); v(i % 16) = if (i % 2 == 0) 1.0f else -1.0f
      (100L + i, v)
    }
    val dir = writeEmbeddings(rows)
    val root = Files.createTempDirectory("graft_lshguard").toString
    val n = Tables.parquetRowCount(spark, dir, "embeddings")
    assert(IndexLifecycle.installPostings(spark, root, 1L,
      IndexLifecycle.LshPostings(dir), DedupQueries.normVecs(spark, dir),
      Seq(SimilarityQueries.codeBits(n), DedupQueries.LshTables)))

    // the audit names WHERE the mass lives: heaviest bucket = the
    // planted one, 780 pairs, flagged against a 100-pair bucket budget
    val audit = IndexLifecycle.lshConfirmAudit(spark, root,
      bucketBudgetPairs = 100L).collect()
    assert(audit.head.getLong(3) >= 780L,
      s"the planted bucket's mass must lead the audit: ${audit.head}")
    assert(audit.head.getBoolean(4), "the planted bucket must flag")
    // the aggregated reading is self-consistent with the audit rows
    val g = IndexLifecycle.lshConfirmGuard(spark, root, budgetPairs = 1000L)
    assert(g.mass === audit.map(_.getLong(3)).sum)
    assert(g.maxBucketPairs === audit.head.getLong(3))
    assert(g.overBudget, s"planted mass must exceed the budget: $g")

    // the guard reports, never drops: serve under the flag == plain serve
    val served = rowSet(IndexLifecycle.pairsFromStore(spark, root,
      IndexLifecycle.LshPostings(dir)))
    assert(served.size >= 780,
      "every planted pair must survive the flagged confirm")

    // absorb: identical vectors give 100% recall at ONE table, so the
    // dial's chosen count undercuts the installed 4 — the maintenance
    // re-codes at the cheaper count and the re-read mass shrinks,
    // while the served pairs stay exactly the same (recall preserved)
    val (reading, swapped) =
      IndexLifecycle.lshGuardedMaintenance(spark, root, dir,
        budgetPairs = 1000L)
    assert(reading.overBudget && reading.mass === g.mass)
    assert(swapped === Some(2L),
      "the dial must absorb a past-budget reading when a cheaper count is viable")
    val g2 = IndexLifecycle.lshConfirmGuard(spark, root, budgetPairs = 1000L)
    assert(g2.mass < g.mass,
      s"absorbing must shrink the confirm mass: ${g.mass} -> ${g2.mass}")
    assert(rowSet(IndexLifecycle.pairsFromStore(spark, root,
      IndexLifecycle.LshPostings(dir)))
      == served,
      "absorbing the mass must not change the served pair set here")
    // under budget now? either way the reading is named, not hidden
    val (reading2, swapped2) =
      IndexLifecycle.lshGuardedMaintenance(spark, root, dir,
        budgetPairs = 1000L)
    assert(swapped2.isEmpty,
      "with the chosen count installed the guard keeps flagging (if still " +
        s"over) or reads green — never re-swaps in place: $reading2")
  }

  test("pq append rolls the baseline forward incrementally — audit equals a rebuilt store's") {
    val root = Files.createTempDirectory("graft_pq_manifest").toString
    val dir = Files.createTempDirectory("graft_pq_mcorpus").toString
    def mk(ids: Range): DataFrame = {
      import spark.implicits._
      ids.map { i =>
        val v = Array.fill(64)(0.0f)
        v(i % 2) = 1.0f
        v(10) = 0.01f * (i % 7)
        (i.toLong, v)
      }.toDF("vec_id", "embedding")
    }
    def vecsAt(d: String): DataFrame =
      spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
    mk(0 until 80).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(IndexLifecycle.installPqIndex(spark, root, 1L,
      IndexLifecycle.train(spark, vecsAt(dir), k = 2),
      IndexLifecycle.trainCodebook(vecsAt(dir)), dir))
    mk(0 until 160).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(IndexLifecycle.appendPqIndex(spark, root, dir) === Some(2L))
    // append carried quantizers and prior codes by reference
    assert(manifestRefs(root, 1L).subsetOf(manifestRefs(root, 2L)))
    assert(bytesUnder(java.nio.file.Paths.get(root, "v=2")) < 65536)
    // the incrementally-rolled baseline prices drift exactly as a full
    // rebuild's install-time baseline does
    val (_, cents2, book2) = IndexLifecycle.readPqIndexAt(spark, root, 2L)
    val rebuilt = Files.createTempDirectory("graft_pq_mrebuild").toString
    assert(IndexLifecycle.installPqIndex(spark, rebuilt, 1L, cents2, book2, dir))
    def audit(r: String) = IndexLifecycle.pqIndexDriftAudit(spark, r, dir)
      .collect().map(_.toSeq).toSeq
    assert(audit(root) == audit(rebuilt),
      "incremental baseline must equal the rebuild's install-time baseline")
    // compaction folds the two code segments; search identical; prune
    // reclaims the superseded deltas
    val before = IndexLifecycle.searchPqIndex(spark, root, dir).collect().toSeq
    assert(IndexLifecycle.compactPqIndex(spark, root) === Some(3L))
    assert(IndexLifecycle.searchPqIndex(spark, root, dir).collect().toSeq
      == before)
    IndexLifecycle.pruneVersions(root, keep = 1)
    assert(IndexLifecycle.searchPqIndex(spark, root, dir).collect().toSeq
      == before)
  }

  test("nightly maintenance driver: one pass performs exactly the expected actions; a re-run is an empty report") {
    import spark.implicits._
    import graft.operators.DedupQueries
    val base = Files.createTempDirectory("graft_nightly")

    // SimHash pillar: 6/7 of the corpus installed, 1/7 pending as the
    // nightly batch; plus one AGED orphan segment (failed-commit debris)
    val shRoot = base.resolve("sh").toString
    val sigs = DedupQueries.textSimhashSigs(spark, sf)
    assert(IndexLifecycle.installPostings(spark, shRoot, 1L,
      IndexLifecycle.SimhashPostings, sigs.filter(col("doc_id") % 7 =!= 0),
      Seq(DedupQueries.MaxBucket)))
    val orphan = Files.createTempDirectory(
      java.nio.file.Paths.get(shRoot, "segments"), "sigs-orphan")
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](1))
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - 7200000L))

    // MinHash pillar: fully installed and quiescent — the driver must
    // touch nothing
    val mhRoot = base.resolve("mh").toString
    assert(IndexLifecycle.installPostings(spark, mhRoot, 1L,
      IndexLifecycle.MinhashPostings,
      DedupQueries.minhashSignatures(spark, sf), Seq(DedupQueries.MaxBucket)))

    // PQ pillar: installed (and baselined) on the OLD epoch; the corpus
    // then drifts to the full distribution — the audit must flag and
    // the driver must route to the rebuild
    val pqRoot = base.resolve("pq").toString
    val dir = base.resolve("corpus").toString
    oldEpoch(corpus).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(IndexLifecycle.installPqIndex(spark, pqRoot, 1L,
      IndexLifecycle.train(spark, asVec(oldEpoch(corpus)), k = 2),
      IndexLifecycle.trainCodebook(asVec(oldEpoch(corpus))), dir))
    corpus.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")

    val pillars = Seq(
      IndexLifecycle.PostingsPillar("sh", shRoot,
        IndexLifecycle.SimhashPostings, (),
        Some(sigs.filter(col("doc_id") % 7 === 0))),
      IndexLifecycle.PostingsPillar("mh", mhRoot,
        IndexLifecycle.MinhashPostings, sf),
      IndexLifecycle.PqPillar("pq", pqRoot, dir, k = 2))
    def run() = IndexLifecycle
      .nightlyMaintenance(spark, pillars, keep = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

    val r1 = run()
    // sh: append the pending batch → the appended store is fragmented →
    // compact → keep=1 prunes the superseded versions → the aged orphan
    // is reclaimed; pq: drift rebuild + prune of the old version;
    // mh: quiescent, not one row
    assert(r1.toSet === Set(("sh", "append"), ("sh", "compact"),
      ("sh", "prune"), ("sh", "gc"), ("pq", "rebuild"), ("pq", "prune")),
      s"unexpected action set: $r1")
    assert(!Files.exists(orphan), "the aged orphan must be reclaimed")
    // the pass left a healthy store: the serve equals a fresh rebuild
    assert(IndexLifecycle.pairsFromStore(spark, shRoot,
      IndexLifecycle.SimhashPostings)
      .collect().toSeq ==
      DedupQueries.simhashNearDupPairsUnsorted(sigs)
        .orderBy("doc_a", "doc_b").collect().toSeq,
      "post-maintenance serve must equal a rebuild on the full corpus")

    val r2 = run()
    assert(r2.isEmpty,
      s"a re-run over the quiescent store must report nothing: $r2")
  }

  test("cross-modal consensus resolves BOTH pillars through one release; interposed single-pillar swaps move nothing") {
    import graft.operators.{DedupQueries, MultimodalQueries}
    val base = Files.createTempDirectory("graft_xm_release")
    val (tRoot, mRoot, rel) = (base.resolve("text").toString,
      base.resolve("media").toString, base.resolve("rel").toString)
    val docs = Tables.documents(spark, sf)
    val media = docs.select(col("doc_id"),
      MultimodalQueries.mediaPayload.as("payload"))
    val tSigs = DedupQueries.textSimhashSigs(spark, sf)
    val mSigs = MultimodalQueries.byteSimhashSigs(media)

    assert(IndexLifecycle.installPostings(spark, tRoot, 1L,
      IndexLifecycle.SimhashPostings, tSigs, Seq(DedupQueries.MaxBucket)))
    assert(IndexLifecycle.installPostings(spark, mRoot, 1L,
      IndexLifecycle.SimhashPostings, mSigs, Seq(DedupQueries.MaxBucket)))
    assert(IndexLifecycle.cutRelease(rel, 1L,
      Map("text_simhash" -> tRoot, "media_simhash" -> mRoot)))
    def consensus() = IndexLifecycle
      .crossModalConsensusAtRelease(spark, rel).collect().toSeq
    val c1 = consensus()
    assert(c1.nonEmpty)
    // the release serve equals the live q260 composition exactly
    assert(c1 == MultimodalQueries.crossModalConsensus(
      IndexLifecycle.pairsFromStore(spark, tRoot,
        IndexLifecycle.SimhashPostings),
      IndexLifecycle.pairsFromStore(spark, mRoot,
        IndexLifecycle.SimhashPostings)).collect().toSeq)
    // the single-pillar release serves agree with their stores too
    assert(IndexLifecycle.pairsAtRelease(spark, rel,
      IndexLifecycle.SimhashPostings, "text_simhash")
      .collect().toSeq ==
      IndexLifecycle.pairsFromStore(spark, tRoot,
        IndexLifecycle.SimhashPostings).collect().toSeq)

    // interposed MEDIA swap (half the corpus): at 'staged' AND
    // 'installed' the release must keep composing the pinned v1 pair —
    // never text v1 + media v2, the mid-swap mix releases exist to kill
    assert(IndexLifecycle.installPostings(spark, mRoot, 2L,
      IndexLifecycle.SimhashPostings, mSigs.filter(col("doc_id") % 2 === 0),
      Seq(DedupQueries.MaxBucket), interpose = stage => {
        assert(consensus() == c1,
          s"release must compose the pinned pair at media-swap '$stage'")
      }))
    assert(consensus() == c1,
      "release must compose the pinned pair after the media swap commits")
    // sanity: the LATEST-version composition did move — the pin is load-
    // bearing, not vacuously green
    assert(MultimodalQueries.crossModalConsensus(
      IndexLifecycle.pairsFromStore(spark, tRoot,
        IndexLifecycle.SimhashPostings),
      IndexLifecycle.pairsFromStore(spark, mRoot,
        IndexLifecycle.SimhashPostings)).collect().toSeq
      != c1, "the head composition must differ after the media swap")

    // the next cut picks up the new head coherently
    assert(IndexLifecycle.cutRelease(rel, 2L,
      Map("text_simhash" -> tRoot, "media_simhash" -> mRoot)))
    assert(consensus() == MultimodalQueries.crossModalConsensus(
      IndexLifecycle.pairsFromStore(spark, tRoot,
        IndexLifecycle.SimhashPostings),
      IndexLifecycle.pairsFromStore(spark, mRoot,
        IndexLifecycle.SimhashPostings)).collect().toSeq)
  }

  // ---------- manifest completeness: what every reader relies on ----------

  /** The latest version of `root`: its manifest names every artifact in
    * `arts`, each of its references exists, and each in-version scalar in
    * `scalars` exists. */
  private def assertComplete(root: String, arts: Seq[String],
                             scalars: Seq[String], verb: String): Unit = {
    val v = IndexLifecycle.latestVersion(root).get
    val dir = java.nio.file.Paths.get(root, s"v=$v")
    val entries = Files.readAllLines(dir.resolve("manifest.tsv")).asScala
      .map(_.split("\t", 2)).map(t => (t(0), t(1))).toSeq
    val named = entries.map(_._1).toSet
    assert(arts.toSet.subsetOf(named),
      s"$verb: v=$v names $named, missing ${arts.toSet -- named}")
    entries.foreach { case (a, r) =>
      assert(Files.exists(java.nio.file.Paths.get(root, r)),
        s"$verb: v=$v references a missing $a segment $r")
    }
    scalars.foreach(a => assert(Files.exists(dir.resolve(a)),
      s"$verb: v=$v holds no $a"))
  }

  test("every writer verb commits a manifest naming every artifact of its layout, base and derived") {
    import spark.implicits._
    import graft.operators.{DedupQueries, SimilarityQueries}
    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    val families: Seq[(String, IndexLifecycle.Postings[_], DataFrame, String,
                       Seq[Long])] = Seq(
      ("simhash", IndexLifecycle.SimhashPostings,
        DedupQueries.textSimhashSigs(spark, sf), "doc_id",
        Seq(DedupQueries.MaxBucket.toLong)),
      ("minhash", IndexLifecycle.MinhashPostings,
        DedupQueries.minhashSignatures(spark, sf), "doc_id",
        Seq(DedupQueries.MaxBucket.toLong)),
      ("lsh", IndexLifecycle.LshPostings(sf), DedupQueries.normVecs(spark, sf),
        "vec_id", Seq(SimilarityQueries.codeBits(n).toLong,
          DedupQueries.LshTables.toLong)),
      ("cdc", IndexLifecycle.CdcPostings, mediaOf(sf), "doc_id",
        Seq(DedupQueries.MaxBucket.toLong)))

    // install, append, compact and takedown, per postings family
    families.foreach { case (name, p, input, id, cfg) =>
      val root = Files.createTempDirectory(s"graft_complete_$name").toString
      val arts = p.layout.arts.map(_.name)
      def check(verb: String) =
        assertComplete(root, arts, Seq(p.layout.cfg), s"$name $verb")
      assert(IndexLifecycle.installPostings(spark, root, 1L, p,
        input.filter(col(id) % 7 =!= 0), cfg))
      check("install")
      assert(IndexLifecycle.appendPostings(spark, root, p,
        input.filter(col(id) % 7 === 0)) === Some(2L))
      check("append")
      assert(IndexLifecycle.compactPostings(spark, root, p) === Some(3L))
      check("compact")
      assert(IndexLifecycle.takedownPostings(spark, root, p,
        input.filter(col(id) % 5 === 2).select(id)) === Some(4L))
      check("takedown")
    }

    // the cap-recalibration carry: a sagging cap commits a new capcfg
    // over the carried segments
    val capRoot = Files.createTempDirectory("graft_complete_cap").toString
    val sh = IndexLifecycle.SimhashPostings
    assert(IndexLifecycle.installPostings(spark, capRoot, 1L, sh,
      sigsOf(healthyRows), Seq(16)))
    assert(IndexLifecycle.appendPostings(spark, capRoot, sh,
      sigsOf(driftedRows)) === Some(2L))
    assert(IndexLifecycle.recalibratePostings(spark, capRoot, sh, ())
      === Some(3L))
    assertComplete(capRoot, sh.layout.arts.map(_.name), Seq(sh.layout.cfg),
      "cap recalibration")

    // the LSH table re-code: one planted bucket over budget, absorbed by
    // re-coding at the dial's cheaper table count
    val planted = (0 until 40).map { i =>
      val v = Array.fill(64)(0.001f); v(0) = 1.0f; v(5) = 0.002f + 1e-5f * i
      (i.toLong, v)
    } ++ (0 until 24).map { i =>
      val v = Array.fill(64)(0.0f); v(i % 16) = if (i % 2 == 0) 1.0f else -1.0f
      (100L + i, v)
    }
    val lshDir = writeEmbeddings(planted)
    val lshRoot = Files.createTempDirectory("graft_complete_recode").toString
    val lsh = IndexLifecycle.LshPostings(lshDir)
    assert(IndexLifecycle.installPostings(spark, lshRoot, 1L, lsh,
      DedupQueries.normVecs(spark, lshDir),
      Seq(SimilarityQueries.codeBits(
        Tables.parquetRowCount(spark, lshDir, "embeddings")).toLong,
        DedupQueries.LshTables.toLong)))
    assert(IndexLifecycle.lshGuardedMaintenance(spark, lshRoot, lshDir,
      budgetPairs = 1000L)._2 === Some(2L))
    assertComplete(lshRoot, lsh.layout.arts.map(_.name), Seq(lsh.layout.cfg),
      "lsh re-code")

    // the PQ index: install, append, compact and takedown
    val pqRoot = Files.createTempDirectory("graft_complete_pq").toString
    val pqDir = Files.createTempDirectory("graft_complete_pqc").toString
    def embeddings(ids: Range): Unit =
      ids.map { i =>
        val v = Array.fill(64)(0.0f)
        v(i % 2) = 1.0f
        v(10) = 0.01f * (i % 7)
        (i.toLong, v)
      }.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite")
        .parquet(s"$pqDir/embeddings.parquet")
    def pqVecs = asVec(spark.read.parquet(s"$pqDir/embeddings.parquet"))
    def pqCheck(verb: String) = assertComplete(pqRoot,
      Seq("codes", "centroids", "codebook"), Seq("baseline", "meta"),
      s"pq $verb")
    embeddings(0 until 80)
    assert(IndexLifecycle.installPqIndex(spark, pqRoot, 1L,
      IndexLifecycle.train(spark, pqVecs, k = 2),
      IndexLifecycle.trainCodebook(pqVecs), pqDir))
    pqCheck("install")
    embeddings(0 until 160)
    assert(IndexLifecycle.appendPqIndex(spark, pqRoot, pqDir) === Some(2L))
    pqCheck("append")
    assert(IndexLifecycle.compactPqIndex(spark, pqRoot) === Some(3L))
    pqCheck("compact")
    assert(IndexLifecycle.takedownPqIndex(spark, pqRoot,
      Seq(7L, 41L).toDF("vec_id")) === Some(4L))
    pqCheck("takedown")
  }
}

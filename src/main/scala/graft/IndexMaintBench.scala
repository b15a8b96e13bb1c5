package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev harness: measure the stored-index maintenance economics at scale —
  * the three numbers the postings/PQ pillars exist to improve, per corpus
  * decade:
  *
  *  - `build`: one full pillar install (the amortized cost);
  *  - `serve`: the pair set served FROM the store (no signature
  *    recompute; min-of-reps in a warm JVM);
  *  - `admit64`: a FIXED 64-document (or 64-vector) batch admitted
  *    against the stored postings — the nightly-ingest unit of work,
  *    which must grow SUBLINEARLY in corpus size for the incremental
  *    discipline to be real (the batch's own signing is constant; only
  *    the stored-list probe grows, and it is index-sized 16–20-byte
  *    rows, never corpus text).
  *
  * Plus the PQ-index pair: `pq_rebuild` (full installPqIndex under the
  * fixed production dials — q281's artifact) vs `pq_append64` (64 new
  * vectors coded against the installed quantizers and committed as
  * v=N+1) — the append ≪ rebuild claim as a measurement.
  *
  * The `store` op measures the manifest-store economics themselves
  * (VERDICT r15 item 1/3): bytes committed per append (must be
  * delta-sized — the r14 layout copied the whole index per version),
  * physical file count after 8 appends with and without compaction, and
  * disk after retention prune (must return to ~one index).
  *
  * Usage: runMain graft.IndexMaintBench <sfDir> [label] [reps] [op...]
  * (ops: simhash minhash lsh cdc pq store)
  */
object IndexMaintBench {
  val Ops: Seq[String] =
    Seq("simhash", "minhash", "lsh", "lshguard", "cdc", "pq", "store",
      "nightly")

  private[graft] def bytesUnder(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(p)) return 0L
    val st = java.nio.file.Files.walk(p)
    try st.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally st.close()
  }

  private[graft] def parquetFilesUnder(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(p)) return 0L
    val st = java.nio.file.Files.walk(p)
    try st.iterator().asScala
      .count(q => q.getFileName.toString.endsWith(".parquet")).toLong
    finally st.close()
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = if (args.length > 1) args(1) else dir
    val reps = if (args.length > 2) args(2).toInt else 3
    val only = args.drop(3).toSet
    val unknown = only -- Ops.toSet
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(", ")} " +
      s"(valid: ${Ops.mkString(", ")})")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{DedupQueries, IndexLifecycle, MultimodalQueries,
      SimilarityQueries}

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def minOf(f: => Long): (Double, Long) =
      (1 to reps).map(_ => timed(f)).minBy(_._1)
    def report(op: String, build: Double, serve: (Double, Long),
               admit: (Double, Long)): Unit =
      println(f"INDEXMAINT $label $op build=$build%.3f serve=${serve._1}%.3f " +
        f"serve_rows=${serve._2} admit64=${admit._1}%.3f " +
        f"admit64_rows=${admit._2}")

    val base = java.nio.file.Files.createTempDirectory("graft_maintbench")
    // the FIXED new batch: 64 docs' text under fresh ids — constant work
    // at every corpus size (the nightly-ingest unit)
    val batchDocs = Tables.documents(spark, dir).orderBy("doc_id").limit(64)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    val run = if (only.isEmpty) Ops else Ops.filter(only)

    def guard(root: String): Unit = {
      val g = IndexLifecycle.lshConfirmGuard(spark, root)
      println(s"INDEXMAINT $label lsh_guard mass=${g.mass} " +
        s"buckets=${g.buckets} max_bucket_pairs=${g.maxBucketPairs} " +
        s"over_budget=${g.overBudget}")
    }
    val vecs = DedupQueries.normVecs(spark, dir)
    val lshCfg = Seq(SimilarityQueries.codeBits(
      Tables.parquetRowCount(spark, dir, "embeddings")).toLong,
      DedupQueries.LshTables.toLong)
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), MultimodalQueries.mediaPayload.as("payload"))
    val capCfg = Seq(DedupQueries.MaxBucket.toLong)
    // per postings pillar: (op, descriptor, corpus input, cfg, the FIXED
    // 64-row batch under fresh ids)
    val postings = Seq(
      ("simhash", IndexLifecycle.SimhashPostings,
        DedupQueries.textSimhashSigs(spark, dir), capCfg,
        DedupQueries.textSimhashSigsFor(batchDocs)),
      ("minhash", IndexLifecycle.MinhashPostings,
        DedupQueries.minhashSignatures(spark, dir), capCfg,
        DedupQueries.minhashSignaturesFor(batchDocs)),
      ("lsh", IndexLifecycle.LshPostings(dir), vecs, lshCfg,
        vecs.orderBy("vec_id").limit(64)
          .select((col("vec_id") + 1000000000L).as("vec_id"), col("v"),
            col("nrm"))),
      ("cdc", IndexLifecycle.CdcPostings, media, capCfg,
        media.orderBy("doc_id").limit(64)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("payload"))))
    postings.filter(p => run.contains(p._1)).foreach {
      case (op, p, input, cfg, batch) =>
        val root = s"$base/$op"
        val (b, _) = timed {
          IndexLifecycle.installPostings(spark, root, 1L, p, input, cfg); 0L
        }
        report(op, b,
          minOf(IndexLifecycle.pairsFromStore(spark, root, p).count()),
          minOf(IndexLifecycle.batchPairs(spark, root, p, batch).count()))
        // the confirm-mass guard's reading at this decade — the number the
        // SCALE x100 row reports instead of a surprise wall-clock
        if (op == "lsh") guard(root)
    }
    if (run.contains("lshguard") && !run.contains("lsh")) {
      // the guard reading alone (no serve timing): install + one audit agg
      val root = s"$base/lshg"
      IndexLifecycle.installPostings(spark, root, 1L,
        IndexLifecycle.LshPostings(dir), vecs, lshCfg)
      guard(root)
    }
    if (run.contains("pq")) {
      // append ≪ rebuild: v1 installs on the corpus minus its last 64
      // vectors, the full corpus then lands, and append codes ONLY the
      // 64 new ids against the installed quantizers
      val root = s"$base/pq"
      val pqDir = s"$base/pqcorpus"
      val vecs = Tables.embeddings(spark, dir)
      val maxId = vecs.agg(max(col("vec_id"))).head.getLong(0)
      vecs.filter(col("vec_id") <= maxId - 64)
        .write.mode("overwrite").parquet(s"$pqDir/embeddings.parquet")
      val (b0, _) = timed {
        IndexLifecycle.installPqIndex(spark, root, 1L,
          SimilarityQueries.fixedCents(spark, pqDir),
          SimilarityQueries.pqCodebookFixed(spark, pqDir), pqDir); 0L
      }
      vecs.write.mode("overwrite").parquet(s"$pqDir/embeddings.parquet")
      val rootP = java.nio.file.Paths.get(root)
      val preAppend = bytesUnder(rootP)
      val (ap, _) = timed {
        IndexLifecycle.appendPqIndex(spark, root, pqDir); 0L
      }
      val appendBytes = bytesUnder(rootP) - preAppend
      // the comparable full rebuild on the SAME (full) corpus
      val (rb, _) = timed {
        IndexLifecycle.installPqIndex(spark, s"$base/pq2", 1L,
          SimilarityQueries.fixedCents(spark, pqDir),
          SimilarityQueries.pqCodebookFixed(spark, pqDir), pqDir); 0L
      }
      println(f"INDEXMAINT $label pq build_n_minus_64=$b0%.3f " +
        f"append64=$ap%.3f full_rebuild=$rb%.3f " +
        f"append_commit_bytes=$appendBytes index_bytes=$preAppend")
    }
    if (run.contains("store")) {
      // manifest-store economics on the SimHash pillar (the mechanism is
      // shared by all five pillars): 8 sequential 8-doc appends, then
      // compaction, then retention prune
      val root = s"$base/storeecon"
      val rootP = java.nio.file.Paths.get(root)
      IndexLifecycle.installPostings(spark, root, 1L,
        IndexLifecycle.SimhashPostings,
        DedupQueries.textSimhashSigs(spark, dir), Seq(DedupQueries.MaxBucket))
      val installBytes = bytesUnder(rootP)
      var appendSecs = 0.0
      var appendBytes = 0L
      (0 until 8).foreach { k =>
        val b = DedupQueries.textSimhashSigsFor(
          Tables.documents(spark, dir).orderBy("doc_id").limit(8)
            .select((col("doc_id") + 1000000000L + 100L * k).as("doc_id"),
              col("text")))
        val pre = bytesUnder(rootP)
        val (t, _) = timed {
          IndexLifecycle.appendPostings(spark, root,
            IndexLifecycle.SimhashPostings, b); 0L }
        appendSecs += t
        appendBytes += bytesUnder(rootP) - pre
      }
      val servePre =
        IndexLifecycle.pairsFromStore(spark, root,
          IndexLifecycle.SimhashPostings).count()
      val filesBefore = parquetFilesUnder(rootP)
      val diskBefore = bytesUnder(rootP)
      IndexLifecycle.compactPostings(spark, root,
        IndexLifecycle.SimhashPostings)
      IndexLifecycle.pruneVersions(root, keep = 1)
      val servePost =
        IndexLifecycle.pairsFromStore(spark, root,
          IndexLifecycle.SimhashPostings).count()
      println(f"INDEXMAINT $label store install_bytes=$installBytes " +
        f"append8_secs=$appendSecs%.3f append8_commit_bytes=$appendBytes " +
        f"files_after_appends=$filesBefore " +
        f"files_after_compact_prune=${parquetFilesUnder(rootP)} " +
        f"disk_after_appends=$diskBefore " +
        f"disk_after_compact_prune=${bytesUnder(rootP)} " +
        f"serve_rows_stable=${servePre == servePost}")
    }
    if (run.contains("nightly")) {
      // one nightlyMaintenance pass over a three-pillar store in its
      // steady nightly posture: SimHash holding all but a 64-doc batch
      // (pending tonight), MinHash quiescent, PQ with 64 new vectors to
      // append — the full audit → append → compact → prune → gc walk as
      // ONE measured verb, plus the quiescent re-run (the pass's floor:
      // pure audit cost)
      val shRoot = s"$base/nsh"
      val mhRoot = s"$base/nmh"
      val pqRoot = s"$base/npq"
      val pqDir = s"$base/npqcorpus"
      val sigs = DedupQueries.textSimhashSigs(spark, dir)
      val batch = DedupQueries.textSimhashSigsFor(batchDocs)
      IndexLifecycle.installPostings(spark, shRoot, 1L,
        IndexLifecycle.SimhashPostings, sigs, Seq(DedupQueries.MaxBucket))
      IndexLifecycle.installPostings(spark, mhRoot, 1L,
        IndexLifecycle.MinhashPostings,
        DedupQueries.minhashSignatures(spark, dir),
        Seq(DedupQueries.MaxBucket))
      val vecs = Tables.embeddings(spark, dir)
      val maxId = vecs.agg(max(col("vec_id"))).head.getLong(0)
      vecs.filter(col("vec_id") <= maxId - 64)
        .write.mode("overwrite").parquet(s"$pqDir/embeddings.parquet")
      IndexLifecycle.installPqIndex(spark, pqRoot, 1L,
        SimilarityQueries.fixedCents(spark, pqDir),
        SimilarityQueries.pqCodebookFixed(spark, pqDir), pqDir)
      vecs.write.mode("overwrite").parquet(s"$pqDir/embeddings.parquet")
      val pillars = Seq(
        IndexLifecycle.PostingsPillar("sh", shRoot,
          IndexLifecycle.SimhashPostings, (), Some(batch)),
        IndexLifecycle.PostingsPillar("mh", mhRoot,
          IndexLifecycle.MinhashPostings, dir),
        IndexLifecycle.PqPillar("pq", pqRoot, pqDir,
          k = SimilarityQueries.fixedCents(spark, pqDir).count().toInt))
      def pass(): (Double, Seq[String]) = {
        val t0 = System.nanoTime()
        val acts = IndexLifecycle.nightlyMaintenance(spark, pillars, keep = 1)
          .collect().map(r => s"${r.getString(0)}:${r.getString(1)}").toSeq
        ((System.nanoTime() - t0) / 1e9, acts)
      }
      val (t1, a1) = pass()
      val (t2, a2) = pass()
      println(f"INDEXMAINT $label nightly pass_secs=$t1%.3f " +
        f"actions=${a1.size}[${a1.mkString(",")}] " +
        f"rerun_secs=$t2%.3f rerun_actions=${a2.size}[${a2.mkString(",")}]")
    }
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupQueries, IndexLifecycle, MultimodalQueries,
  SimilarityQueries}

/** Postings pillars whose versions were committed by older writers: a
  * pre-manifest version (`v=N/<artifact>` directories, no manifest) and a
  * manifest version without the derived probe-ready layouts. Each must
  * append, compact and serve exactly like a fresh install, and no commit
  * may reference an artifact path that does not exist. */
class LegacyStoreSpec extends SparkSpec {

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case w: Seq[_] => w.toList
      case x => x
    }).toSet

  /** (name, descriptor, corpus input, id column, cfg) per family. */
  private def families: Seq[(String, IndexLifecycle.Postings[_], DataFrame,
                             String, Seq[Long])] = {
    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    Seq(
      ("simhash", IndexLifecycle.SimhashPostings,
        DedupQueries.textSimhashSigs(spark, sf), "doc_id",
        Seq(DedupQueries.MaxBucket.toLong)),
      ("minhash", IndexLifecycle.MinhashPostings,
        DedupQueries.minhashSignatures(spark, sf), "doc_id",
        Seq(DedupQueries.MaxBucket.toLong)),
      ("lsh", IndexLifecycle.LshPostings(sf), DedupQueries.normVecs(spark, sf),
        "vec_id", Seq(SimilarityQueries.codeBits(n).toLong,
          DedupQueries.LshTables.toLong)),
      ("cdc", IndexLifecycle.CdcPostings,
        Tables.documents(spark, sf)
          .select(col("doc_id"), MultimodalQueries.mediaPayload.as("payload")),
        "doc_id", Seq(DedupQueries.MaxBucket.toLong)))
  }

  private def manifest(root: String, v: Long): Path =
    Paths.get(root, s"v=$v", "manifest.tsv")

  private def entries(root: String, v: Long): Seq[(String, String)] =
    Files.readAllLines(manifest(root, v)).asScala.toSeq.map { l =>
      val t = l.split("\t", 2); (t(0), t(1))
    }

  private def deleteRecursively(p: Path): Unit = {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally st.close()
  }

  /** Rewrite v=1 in the pre-manifest layout: each base artifact's one
    * segment becomes `v=1/<artifact>`; derived layouts and the manifest
    * are gone. */
  private def toLegacy(root: String, base: Seq[String]): Unit = {
    entries(root, 1L).foreach { case (a, ref) =>
      val seg = Paths.get(root, ref)
      if (base.contains(a)) Files.move(seg, Paths.get(root, "v=1", a))
      else deleteRecursively(seg)
    }
    Files.delete(manifest(root, 1L))
  }

  /** Drop the derived layouts from v=1's manifest. */
  private def withoutDerived(root: String, base: Seq[String]): Unit = {
    val kept = entries(root, 1L).filter { case (a, _) => base.contains(a) }
    Files.write(manifest(root, 1L),
      kept.map { case (a, r) => s"$a\t$r" }.asJava)
    ()
  }

  /** Every manifest reference of every committed version exists. */
  private def refsExist(root: String): Boolean =
    (1L to IndexLifecycle.latestVersion(root).get)
      .filter(v => Files.exists(manifest(root, v)))
      .forall(v => entries(root, v).forall { case (_, r) =>
        Files.exists(Paths.get(root, r))
      })

  private def olderWriterVersionServesAfterAppendAndCompact(
      rewrite: (String, Seq[String]) => Unit): Unit =
    families.foreach { case (name, p, input, id, cfg) =>
      val base = p.layout.base.map(_.name)
      val stored = input.filter(col(id) % 7 =!= 0)
      val batch = input.filter(col(id) % 7 === 0)
      val fullRoot = Files.createTempDirectory(s"graft_${name}_full").toString
      assert(IndexLifecycle.installPostings(spark, fullRoot, 1L, p, input, cfg))
      val storedRoot =
        Files.createTempDirectory(s"graft_${name}_stored").toString
      assert(IndexLifecycle.installPostings(spark, storedRoot, 1L, p, stored,
        cfg))

      val root = Files.createTempDirectory(s"graft_${name}_older").toString
      assert(IndexLifecycle.installPostings(spark, root, 1L, p, stored, cfg))
      rewrite(root, base)
      assert(rowSet(IndexLifecycle.pairsFromStore(spark, root, p)) ==
        rowSet(IndexLifecycle.pairsFromStore(spark, storedRoot, p)),
        s"$name: the older writer's version must serve its own pairs")
      assert(IndexLifecycle.compactPostings(spark, root, p).isEmpty,
        s"$name: one segment per artifact leaves nothing to compact")
      assert(IndexLifecycle.appendPostings(spark, root, p, batch)
        === Some(2L))
      assert(IndexLifecycle.compactPostings(spark, root, p) === Some(3L),
        s"$name: the append's delta segments must compact")
      assert(refsExist(root),
        s"$name: a commit referenced a missing artifact path")
      assert(rowSet(IndexLifecycle.pairsFromStore(spark, root, p)) ==
        rowSet(IndexLifecycle.pairsFromStore(spark, fullRoot, p)),
        s"$name: append + compact must serve exactly a fresh full install")
    }

  test("a pre-manifest version appends, compacts and serves like a fresh install (every postings family)") {
    olderWriterVersionServesAfterAppendAndCompact(toLegacy)
  }

  test("a manifest version without derived layouts appends, compacts and serves like a fresh install") {
    olderWriterVersionServesAfterAppendAndCompact(withoutDerived)
  }
}

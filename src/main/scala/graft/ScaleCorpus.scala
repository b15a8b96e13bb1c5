package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: synthesize a scale-headroom corpus that mimics the driver
  * testdata's statistics (TESTDATA.md; measured off sf0.1) at an arbitrary
  * multiplier, so growth curves past sf0.1 can be measured even though the
  * driver only generates up to sf0.1. `mult = 1` reproduces sf0.1-scale
  * SIZES (5000 docs, 2000 embeddings, 600k lineitem...) with this
  * generator's own deterministic values — bench sf0.1-vs-sfx1 validates
  * the mimicry, sfx1-vs-sfx10 measures the growth exponent like-for-like
  * on one generator.
  *
  * Mimicked statistics (measured): documents draw 10–100 tokens per doc,
  * 5 langs, 20 sources; embeddings are unit-norm 64-dim vectors with
  * per-dim spread ~1/8; lineitem keeps 4 lines/order, part/supp key
  * cardinalities at 1/30 and 1/600 of rows, uniform flag/status mixes and
  * a two-year shipdate span. `events` is deliberately not generated — no
  * headline query reads it.
  *
  * OPEN vocabulary (round-13 fix): tokens are Zipf(1)-distributed ranks
  * over a type set that GROWS with the corpus (V = 31·mult — Heaps-law
  * behavior, the way a real scraped corpus accrues new types), via the
  * log-uniform inverse transform t = ⌊V^u⌋ (P(t) ∝ 1/t). The previous
  * CLOSED 31-word vocabulary made EVERY shingle's document frequency
  * grow ∝ n — it could never saturate — which polluted the decade-2
  * readings of the df-mass-bounded forms (q272 read 4.5× and q274 9.3×
  * at 100× purely from that artifact, SCALE.md r12). With V ∝ n, head
  * tokens stay hot (Zipf) but tail-shingle df stays O(1), so the
  * df-bounded ground-truth passes measure their real linear slope.
  *
  * Optional flags after mult (the BASE corpora stay untouched so decade
  * readings remain comparable across rounds; the variants serve specific
  * measurements):
  *  - `ingest`: appends PLANTED duplicate/contaminated families to the
  *    documents table (the spec corpora's planted-family discipline) so
  *    the composed ingest pipeline's rejection stages actually pay at
  *    scale — verbatim copies (exact-dedup), suffix-perturbed near-dups,
  *    and eval-overlapping contaminated docs. Planted ids sit above the
  *    original range, so they arrive AFTER their originals.
  *  - `longdocs`: draws 100–1000 tokens per doc (10× the default) — the
  *    text-heavy regime where the streaming-admitter pillar bootstrap's
  *    corpus-independence is worth wall-clock (SCALE.md's text-heavy
  *    bootstrap rows).
  *
  * Usage: runMain graft.ScaleCorpus <outDir> <mult> [ingest] [longdocs]
  */
object ScaleCorpus {
  private val Langs = Seq("de", "en", "es", "fr", "zh")

  private def h(salt: Int): Column = xxhash64(col("id"), lit(salt))
  private def hm(salt: Int, m: Long): Column = pmod(h(salt), lit(m))

  private def write(df: DataFrame, outDir: String, name: String,
                    files: Int): Unit =
    df.coalesce(files).write.mode("overwrite")
      .parquet(s"$outDir/$name.parquet")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val mult = args(1).toInt
    val flags = args.drop(2).toSet
    require(flags.subsetOf(Set("ingest", "longdocs")),
      s"unknown flags: ${flags -- Set("ingest", "longdocs")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val nLine = 600000L * mult
    val nOrders = nLine / 4
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult

    // documents: 10–100 tokens, Zipf(1) ranks over the sf-scaled type set
    // via t = ⌊V^u⌋ with u uniform in [0,1) — see the class doc
    val vocabTypes = 31.0 * mult
    val baseDocs = spark.range(nDocs)
      .withColumn("ntok",
        if (flags("longdocs")) (hm(1, 901) + 100).cast("int")
        else (hm(1, 91) + 10).cast("int"))
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), col("ntok")),
          i => concat(lit("w"), floor(pow(lit(vocabTypes),
            pmod(xxhash64(col("id"), i, lit(2)), lit(1000000L))
              .cast("double") / 1000000.0d)).cast("long")))).as("text"),
        element_at(array(Langs.map(lit): _*),
          (hm(3, Langs.length) + 1).cast("int")).as("lang"),
        concat(lit("src"), hm(4, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // the ingest variant's planted rejection families: verbatim copies
    // (~9% of docs), suffix-perturbed near-dups (~9%), and docs carrying
    // a full eval doc's text (+ fresh tail) so decontamination excises
    // hard — each family's ids sit above nDocs, arriving after the
    // originals they duplicate
    val docs =
      if (!flags("ingest")) baseDocs
      else {
        def reshape(d: DataFrame, offset: Long, suffix: String): DataFrame =
          d.select((col("doc_id") + offset).as("doc_id"),
            (if (suffix.isEmpty) col("text")
             else concat(col("text"), lit(suffix))).as("text"),
            col("lang"), col("source"))
            .withColumn("n_chars", length(col("text")).cast("long"))
        baseDocs
          .unionByName(reshape(
            baseDocs.filter(col("doc_id") % 11 === 0), nDocs, ""))
          .unionByName(reshape(
            baseDocs.filter(col("doc_id") % 11 === 5), 2 * nDocs,
            " nd1 nd2"))
          .unionByName(reshape(
            baseDocs.filter(col("doc_id") % 97 === 0), 3 * nDocs,
            " c1 c2 c3"))
      }
    write(docs, outDir, "documents", math.max(1, mult))

    // embeddings: unit-norm 64-dim vectors, uniform pre-normalization
    val raw = transform(sequence(lit(1), lit(64)),
      d => pmod(xxhash64(col("id"), d, lit(5)), lit(2000001L)).cast("double")
        / 1000000.0d - 1.0d)
    val vecs = spark.range(nVecs)
      .withColumn("raw", raw)
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0d),
        (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        hm(6, 10).cast("int").as("label"))
    write(vecs, outDir, "embeddings", math.max(1, mult))

    val day = 86400L * 1000000L // micros
    val epoch95 = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))

    val lineitem = spark.range(nLine).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      hm(10, nPart).as("l_partkey"),
      hm(11, nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (hm(12, 50) + 1).cast("double").as("l_quantity"),
      round(hm(13, 4910000).cast("double") / 100.0d + 900.0d, 2)
        .as("l_extendedprice"),
      (hm(14, 11).cast("double") / 100.0d).as("l_discount"),
      (hm(15, 9).cast("double") / 100.0d).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (hm(16, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (hm(17, 2) + 1).cast("int")).as("l_linestatus"),
      timestamp_micros(unix_micros(epoch95) + hm(18, 730) * day)
        .as("l_shipdate"))
    write(lineitem, outDir, "lineitem", math.max(4, 4 * mult))

    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      hm(20, nCust).as("o_custkey"),
      element_at(array(lit("O"), lit("P"), lit("F")),
        (hm(21, 3) + 1).cast("int")).as("o_orderstatus"),
      round(hm(22, 49900000).cast("double") / 100.0d + 1000.0d, 2)
        .as("o_totalprice"),
      timestamp_micros(unix_micros(epoch95) + hm(23, 730) * day)
        .as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (hm(24, 5) + 1).cast("int")).as("o_orderpriority"))
    write(orders, outDir, "orders", math.max(2, mult))

    val customer = spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      hm(30, 25).cast("int").as("c_nationkey"),
      round(hm(31, 1000000).cast("double") / 100.0d, 2).as("c_acctbal"),
      element_at(array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
        lit("HOUSEHOLD"), lit("MACHINERY")),
        (hm(32, 5) + 1).cast("int")).as("c_mktsegment"))
    write(customer, outDir, "customer", 1)

    val supplier = spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      hm(40, 25).cast("int").as("s_nationkey"),
      round(hm(41, 1000000).cast("double") / 100.0d, 2).as("s_acctbal"))
    write(supplier, outDir, "supplier", 1)

    val part = spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        element_at(array(lit("large"), lit("small"), lit("hot"), lit("cold"),
          lit("steel")), (hm(50, 5) + 1).cast("int")),
        element_at(array(lit("ring"), lit("bolt"), lit("screw"), lit("nut"),
          lit("washer")), (hm(51, 5) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), hm(52, 25)).as("p_brand"),
      element_at(array(lit("LARGE"), lit("ECONOMY"), lit("STANDARD"),
        lit("SMALL"), lit("PROMO")), (hm(53, 5) + 1).cast("int")).as("p_type"),
      (hm(54, 50) + 1).cast("int").as("p_size"),
      round(hm(55, 1000000).cast("double") / 100.0d + 900.0d, 2)
        .as("p_retailprice"))
    write(part, outDir, "part", 1)

    // nation/region are fixed-cardinality — carry the driver's own
    spark.read.parquet("/root/testdata/sf0.1/nation.parquet")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/nation.parquet")
    spark.read.parquet("/root/testdata/sf0.1/region.parquet")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/region.parquet")

    println(s"SCALECORPUS wrote mult=$mult to $outDir")
    spark.stop()
  }
}

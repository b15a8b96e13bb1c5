package graft

import org.apache.spark.sql.types._

/** The driver-harness result-schema contract, enforced catalog-wide.
  *
  * The correctness gate loads each query's parquet output with
  * pandas/pyarrow, the oracle via duckdb→pandas, then sorts by every column
  * and hashes values dtype-sensitively. Three whole result-type classes
  * fail that gate even when every value is exact — each burned a round
  * before being understood (r2/r3: q69, q127, q84/q128):
  *
  *   - Array/Map/Struct top-level columns crash pandas `sort_values`
  *     (unhashable), nulling the whole row in CORRECTNESS_r{N}.json.
  *   - DECIMAL columns normalize differently per reader (pyarrow surfaces
  *     `decimal.Decimal` objects, duckdb→pandas float64) and hash-mismatch.
  *   - An un-CAST DuckDB integer `sum()` widens to HUGEINT → pandas
  *     float64, while Spark's stays int64 — same digits, different dtype.
  *
  * This spec turns the first two into a build-time failure for every
  * oracle-checked catalog query (spec-only queries may keep nested types —
  * the driver records a rows-only check for them). The third lives on the
  * oracle side, invisible to a Spark schema — `tools/check.py` now hashes
  * dtype-sensitively and catches it at verify time.
  */
class HarnessContractSpec extends SparkSpec {

  private def driverSortable(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _: DecimalType => false // value-exact but reader-normalization-unstable
    case _ => true // string/integral/float/bool/date/timestamp/binary
  }

  test("every oracle-checked query emits only atomic, driver-sortable columns") {
    val offenders = SparkEntry.catalog.filter(_.oracle.isDefined).flatMap { q =>
      q.run(spark, sf).schema.fields.collect {
        case f if !driverSortable(f.dataType) =>
          s"${q.name}.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      "driver-unsortable result columns (serialize to a canonical string, " +
        "emit integer cents, or drop the oracle and keep a spec):\n  " +
        offenders.mkString("\n  "))
  }

  // --- oracle-SQL lint for the third hazard class -------------------------
  // DuckDB widens an integer sum() to HUGEINT, which pandas surfaces as
  // float64 while Spark's stays int64 — identical digits, dtype hash fail.
  // It lives in the ORACLE text where no Spark schema can see it (q21, r6:
  // the idiom was four lines away). The detectable class: a sum() whose
  // argument is explicitly integer (inner `CAST(... AS BIGINT)` or a
  // len()/length() call) must sit inside SOME enclosing CAST(...) — any
  // enclosing cast pins the final dtype no matter what the intermediate
  // widens to (q188/q211 divide the HUGEINT then cast: fine).

  /** Index of the ')' closing the '(' at `op`, or -1. */
  private def balancedClose(sql: String, op: Int): Int = {
    var depth = 0
    var j = op
    while (j < sql.length) {
      sql.charAt(j) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return j
        case _ =>
      }
      j += 1
    }
    -1
  }

  /** Positions of every '(' still open at `pos`. */
  private def enclosingOpens(sql: String, pos: Int): List[Int] = {
    var stack = List.empty[Int]
    var j = 0
    while (j < pos) {
      sql.charAt(j) match {
        case '('                   => stack = j :: stack
        case ')' if stack.nonEmpty => stack = stack.tail
        case _                     =>
      }
      j += 1
    }
    stack
  }

  private def sumHazards(sql: String): Seq[String] =
    "(?i)\\bsum\\s*\\(".r.findAllMatchIn(sql).flatMap { m =>
      val op = m.end - 1
      val cl = balancedClose(sql, op)
      if (cl < 0) None
      else {
        val arg = sql.substring(op + 1, cl).trim.toUpperCase
        val innerInt = arg.endsWith("AS BIGINT)") ||
          arg.startsWith("LEN(") || arg.startsWith("LENGTH(")
        // word-boundary match: `broadcast(`/`try_cast(` also END with "cast",
        // but neither is the HUGEINT-defusing CAST(... AS BIGINT) wrapper
        val castWrapped = enclosingOpens(sql, m.start).exists { p =>
          "(?i)(?<![a-z0-9_])CAST$".r
            .findFirstIn(sql.substring(0, p).replaceAll("\\s+$", "")).isDefined
        }
        if (!innerInt || castWrapped) None
        else Some(sql.substring(m.start, math.min(cl + 1, m.start + 70))
          .replace('\n', ' '))
      }
    }.toSeq

  test("oracle lint: integer sums are CAST-wrapped against HUGEINT widening") {
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) => sumHazards(sql).map(frag => s"$name: $frag")
    }
    assert(offenders.isEmpty,
      "oracle sums an integer expression without an enclosing CAST — DuckDB " +
        "widens to HUGEINT → float64 vs Spark int64. Wrap the aggregate: " +
        "CAST(sum(...) AS BIGINT).\n  " + offenders.mkString("\n  "))
  }

  test("oracle lint catches the r6 q21 shape and accepts the fixed one") {
    val preFix = "SELECT band, count(*) AS n, " +
      "sum(CAST(floor(value * 100) AS BIGINT)) AS sum_value_cents " +
      "FROM events GROUP BY band"
    assert(sumHazards(preFix).nonEmpty, "lint must flag the un-wrapped sum")
    val fixed = "SELECT band, count(*) AS n, " +
      "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents " +
      "FROM events GROUP BY band"
    assert(sumHazards(fixed).isEmpty, "lint must accept the CAST-wrapped sum")
    // an identifier merely ENDING in "cast" is not a wrapper: the hazardous
    // sum inside broadcast(...)/try_cast(...) must still be flagged
    val laundered = "SELECT broadcast(sum(CAST(floor(value * 100) AS BIGINT))) " +
      "AS s FROM events"
    assert(sumHazards(laundered).nonEmpty,
      "lint must not accept broadcast( as a CAST wrapper")
    val tryCast = "SELECT try_cast(sum(CAST(v AS BIGINT)) AS VARCHAR) AS s FROM t"
    assert(sumHazards(tryCast).nonEmpty,
      "lint must not accept try_cast( as a CAST wrapper")
  }

  /** Probe the LIVE corpus shape. The r5 regression — the driver regenerated
    * /root/testdata with events.ts as micros-NTZ while the loader assumed
    * nanos-as-long — surfaced as 42 opaque driver rows instead of one named
    * test failure. This pins the contract: whatever physical encoding the
    * driver ships, Tables.events must normalize it to TimestampType, and it
    * must actually load rows. A future corpus-shape change fails HERE with
    * the table named. */
  test("live corpus: Tables.events loads and ts normalizes to TimestampType") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts normalized to ${ev.schema("ts").dataType}, expected TimestampType")
    assert(ev.limit(1).count() == 1, "events table is empty or unreadable")
  }

  /** The driver's third contract surface: `entry()` must return rows on
    * sf0.001 (smoke gate). Pinned here so a flagship-query regression fails
    * by name instead of as an opaque driver smoke failure. */
  test("driver smoke contract: entry() returns rows") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1L)
  }

  /** Extend the events probe to every other LOAD-BEARING physical dtype:
    * the r5 lesson generalized. The driver regenerates corpora between
    * rounds and the encoding is its choice — if embeddings flip to
    * list<double> (DotProductD expects float), money columns to DECIMAL
    * (cents arithmetic assumes double), or ids to int32 (shiftright/pmod
    * bucketing assumes long), dozens of queries go red as opaque driver
    * rows. This test makes the corpus-shape change fail HERE with the
    * table and column named. Deliberately NOT pinned: string widths,
    * column order, nullability — nothing the engine doesn't rely on. */
  test("live corpus: load-bearing physical dtypes are the probed shapes") {
    val expect: Seq[(String, org.apache.spark.sql.DataFrame, Map[String, DataType])] = Seq(
      ("lineitem", Tables.lineitem(spark, sf), Map(
        "l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        // wall-clock NTZ (isAdjustedToUTC=false), NOT normalized the way
        // Tables.events normalizes ts: date arithmetic in the catalog is
        // calendar-local on both engines, so NTZ passes through untouched
        "l_shipdate" -> TimestampNTZType)),
      ("orders", Tables.orders(spark, sf), Map(
        "o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType)),
      ("documents", Tables.documents(spark, sf), Map(
        "doc_id" -> LongType, "text" -> StringType, "n_chars" -> LongType)),
      ("embeddings", Tables.embeddings(spark, sf), Map(
        "vec_id" -> LongType, "embedding" -> ArrayType(FloatType))),
      ("events", Tables.events(spark, sf), Map(
        "event_id" -> LongType, "user_id" -> LongType,
        "value" -> DoubleType, "props" -> StringType)))
    val drift = expect.flatMap { case (table, df, cols) =>
      cols.flatMap { case (name, want) =>
        val got = df.schema(name).dataType
        if (got == want) None
        else Some(s"$table.$name: got ${got.simpleString}, engine assumes ${want.simpleString}")
      }
    }
    assert(drift.isEmpty,
      "corpus physical shape drifted — re-probe the affected loaders/queries " +
        "(the r5 events.ts lesson):\n  " + drift.mkString("\n  "))
  }

  /** The micros-NTZ branch of Tables.events reinterprets a wall-clock in the
    * SESSION time zone; only UTC makes that the same instant the DuckDB
    * oracle reads. Assert the precondition rather than trusting every entry
    * point to keep routing through GraftSession. */
  test("session time zone is UTC (precondition of the NTZ events cast)") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  /** Both Hadoop APIs must reach the fork-free local filesystem: parquet
    * writes and the commit protocol go through `FileSystem`, the streaming
    * checkpoint log through `FileContext` (ForkGateSpec measures why). */
  test("the session resolves file: to the fork-free local filesystem for both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val local = new java.net.URI("file:///")
    val fs = org.apache.hadoop.fs.FileSystem.get(local, conf)
    assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(local, conf)
    assert(fc.getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
  }
}

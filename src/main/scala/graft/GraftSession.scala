package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine-mandatory session configuration lives. Every
  * entry point (Verify/Bench/RunOne/BenchSome and the test sessions) builds
  * through here — a builder that forgets one of these lines compiles fine
  * and fails subtly at runtime:
  *
  *  - `nanosAsLong`: legacy (pre-Aug-13) events.parquet corpora are
  *    TIMESTAMP(NANOS), which Spark 4 rejects outright unless this is set
  *    at session build. The current corpus is micros-NTZ and doesn't need
  *    it, but Tables.events probes the schema and still supports the nanos
  *    shape (requiring this flag only on that branch) — so the builder
  *    keeps it on to stay able to read either generation.
  *  - `InferFiltersFromGenerate` exclusion: the rule pushes
  *    generator-inferred predicates below staged projections with aliases
  *    substituted, re-evaluating quadratic tokenizer expressions per row
  *    (3-4× on the shingle pipelines); it only ever ADDS row-pruning
  *    filters, so excluding it cannot change results
  *  - codegen cache: ~77 plans × several stages overflow the default
  *    100-entry generated-class cache and thrash recompilation
  *  - `file` scheme → [[ForkFreeLocalFileSystem]] / [[ForkFreeLocalFs]]:
  *    without `libhadoop`, Hadoop's local filesystem forks `chmod` for
  *    every file, `.crc` and directory it creates (7.6–10.8 ms a call,
  *    against 0.006–0.019 ms for NIO) and `readlink` for every checkpoint
  *    rename (3.4–3.7 ms), which made up most of a 500-record
  *    micro-batch's fixed cost. One line for the `FileSystem` API
  *    (parquet writes, the commit protocol, Staging, AvroOcf), one for
  *    `FileContext` (the streaming checkpoint log); ForkGateSpec fails if
  *    either goes
  *  - artifact isolation off: the engine adds no per-session jars or
  *    artifacts, and with isolation on every session and every stream's
  *    clone of it runs its tasks under a class loader of its own, so the
  *    generated-class cache, keyed by loader, missed on every
  *    `Replication.start` and its 4 whole-stage classes were compiled and
  *    run cold again. One class loader serves every session and stream
  *    (ReplicationSpec's codegen gate)
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // the engine's own extensions ship ON: the dot-product rewrite rule
      // and the graft_* SQL kernel registry are part of the product surface
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // UTC is load-bearing: Tables.events casts the micros-NTZ wall-clock
      // to TimestampType in THIS zone; non-UTC would shift every instant
      // vs the DuckDB oracle. HarnessContractSpec asserts it.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      // the bounded top-k prune (TopPairs) groups by query_id — hundreds
      // of groups per task at bench scale; the default 128-group fallback
      // would silently degrade ObjectHashAggregate to sort-based (a full
      // input sort — exactly what the heap aggregate exists to avoid).
      // Buffers are k·16B, so even 16k groups is ~32 MB per task.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
}

package graft

import org.apache.spark.sql.DataFrame

/** The engine helpers the harness needs that are package-private to
  * `graft`: the frozen eval-window index the ingest pipeline decontaminates
  * against (the same call `StreamBench`'s ingest row makes). */
object BenchSeams {
  def evalWindowHashes(evalDocs: DataFrame): DataFrame =
    graft.operators.DedupQueries.evalWindowHashes(evalDocs)
}

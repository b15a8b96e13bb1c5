package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The calibration manifest — every approximate index's operating
  * parameters as ONE fleet-facing frame, each row the `chosen` reading of
  * its dial: IVF probe depth (q251), the text and media SimHash bucket
  * caps (q265/q266), and the sign-LSH table count (q268). This is the
  * artifact a 100 TB deployment ships alongside its indexes — the nightly
  * dials recompute it from the shared panels, the lifecycle store versions
  * the pieces that gate results (the cap pillar), and every `calibrated*`
  * entry point reads the same choices this frame reports. Deliberately an
  * API rather than a catalog query: the dials are already first-class
  * oracle-checked queries, and the manifest is their join-free union —
  * re-running all four inside the bench would double-charge the sweeps. */
object Calibration {

  /** (param, value, recall_ppm, floor_ppm) — one row per calibrated
    * operating parameter, ordered by param name. */
  def manifest(s: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), MultimodalQueries.mediaPayload.as("payload"))
    import IndexLifecycle.{CdcCapDial, MinhashCapDial, ProbesDial,
      SimhashCapDial, TablesDial}
    rows(Seq(
      ProbesDial.frame(s, dir),
      SimhashCapDial.frame(s, DedupQueries.textSimhashSigs(s, dir)),
      SimhashCapDial.frame(s, MultimodalQueries.byteSimhashSigs(media)),
      TablesDial.frame(s, dir),
      MinhashCapDial.frame(s, dir),
      CdcCapDial.frame(s, media)).map(_.filter(col("chosen"))))
  }

  /** [[manifest]] read from the INSTALLED state instead of recomputed —
    * the production form once every parameter is versioned through
    * [[IndexLifecycle]]'s pillars: each row is the store's committed
    * scalar plus the `chosen` row of the install-time dial evidence that
    * rode along with it. A nightly recalibration changes this frame only
    * by committing a new version; between installs it is stable however
    * the corpus moves (that movement is the drift audits' to flag). The
    * six roots are the six pillar stores: IVF probes, text cap, media
    * cap, LSH tables, MinHash cap, CDC chunk cap. */
  def manifestFromStore(s: SparkSession, probesRoot: String,
                        capTextRoot: String, capMediaRoot: String,
                        tablesRoot: String, capMinhashRoot: String,
                        capCdcRoot: String): DataFrame =
    manifestAt(s, Seq(probesRoot, capTextRoot, capMediaRoot, tablesRoot,
        capMinhashRoot, capCdcRoot)
      .map(r => r -> IndexLifecycle.latestVersion(r).getOrElse(
        throw new IllegalStateException(s"no committed dial under $r"))))

  /** [[manifestFromStore]] with every pillar resolved through ONE
    * release ([[IndexLifecycle.readRelease]]) — the coherent form: a
    * recalibration of any single pillar cannot move one row of this
    * frame mid-sequence; all six rows report the release's pinned
    * versions until the next release pins new ones. Pin names follow
    * the manifest's param names. */
  def manifestFromRelease(s: SparkSession, relRoot: String): DataFrame = {
    val pins = IndexLifecycle.readRelease(relRoot)
    manifestAt(s, Installed.map { case (param, _, _) => pins(param) })
  }

  /** The manifest's (param, dial pillar, recall floor) rows. */
  private val Installed: Seq[(String, IndexLifecycle.Dial[_], Long)] = Seq(
    ("ivf_probes", IndexLifecycle.ProbesDial,
      SimilarityQueries.ProbeRecallFloorPpm),
    ("simhash_cap_text", IndexLifecycle.SimhashCapDial,
      DedupQueries.CapRecallFloorPpm),
    ("simhash_cap_media", IndexLifecycle.SimhashCapDial,
      DedupQueries.CapRecallFloorPpm),
    ("lsh_tables", IndexLifecycle.TablesDial, DedupQueries.LshTableFloorPpm),
    ("minhash_cap", IndexLifecycle.MinhashCapDial,
      DedupQueries.CapRecallFloorPpm),
    ("cdc_cap", IndexLifecycle.CdcCapDial, DedupQueries.CapRecallFloorPpm))

  /** Each row's installed value at its (store root, version), with the
    * `chosen` row of the dial evidence installed alongside it. */
  private def manifestAt(s: SparkSession,
                         at: Seq[(String, Long)]): DataFrame =
    rows(Installed.zip(at).map { case ((_, d, _), (root, v)) =>
      IndexLifecycle.readDialBaselineAt(s, root, d, v).filter(col("chosen") &&
        col(d.valueCol) === IndexLifecycle.readDialAt(s, root, d, v).toLong)
    })

  /** One manifest row per [[Installed]] entry from its chosen dial row. */
  private def rows(chosen: Seq[DataFrame]): DataFrame =
    Installed.zip(chosen).map { case ((param, d, floor), dial) =>
      dial.select(lit(param).as("param"), col(d.valueCol).as("value"),
        col("recall_ppm"), lit(floor).as("floor_ppm"))
    }.reduce(_ unionAll _)
      .orderBy("param")
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf

/** A Hadoop configuration as a task carries it: only the entries that did
  * not come from one of Hadoop's `*-default.xml` resources.
  *
  * A session's Hadoop conf holds about 1,100 entries, nearly all of them
  * loaded from `core-`, `mapred-` and `yarn-default.xml`; the settings the
  * engine, Spark and the session make are about 30. Shipping the whole conf
  * (as Spark's `SerializableConfiguration` does) costs every task ~100 KB
  * of serialized closure and milliseconds of deserialization, and every
  * consumer that walks the entries (parquet's column settings, a
  * `JobConf` copy) walks all of them. The defaults need no shipping: Hadoop
  * code falls back to the same values when a key is absent (TopicWriteSpec
  * checks every key the topic sink's write reads), so the executor
  * rebuilds the conf on `new JobConf(false)`, as `SerializableConfiguration`
  * rebuilds on `new Configuration(false)`.
  *
  * An entry counts as a default when the last source Hadoop recorded for
  * it is a `*-default.xml` resource; one set or overridden in code, by a
  * `*-site.xml` or by `spark.hadoop.*` is carried. `value` is a `JobConf`,
  * so a `TaskAttemptContext` built on it uses it as is instead of copying
  * it. */
final class LeanHadoopConf private (entries: Array[String]) extends Serializable {

  /** The carried entries on a conf that loads no default resource; built
    * once per deserialized copy. */
  @transient lazy val value: JobConf = {
    val conf = new JobConf(false)
    var i = 0
    while (i < entries.length) { conf.set(entries(i), entries(i + 1)); i += 2 }
    conf
  }
}

object LeanHadoopConf {
  /** The entries of `conf` that did not come from a default resource. */
  def apply(conf: Configuration): LeanHadoopConf =
    new LeanHadoopConf(conf.iterator().asScala
      .filterNot(e => fromDefaults(conf, e.getKey))
      .flatMap(e => Iterator(e.getKey, e.getValue))
      .toArray)

  /** Whether `key`'s value in `conf` was last set by a Hadoop default resource. */
  def fromDefaults(conf: Configuration, key: String): Boolean =
    Option(conf.getPropertySources(key)).exists(s => s.nonEmpty && s.last.endsWith("-default.xml"))
}

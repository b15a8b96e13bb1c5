package graft.avro

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.Commit
import org.apache.avro.{Schema, SchemaNormalization}

import scala.jdk.CollectionConverters._

/** Schema registry abstraction (SURVEY.md §1.3): the reference resolves writer
  * schemas from a *source* Confluent registry and auto-registers them in a
  * *target* registry on first produce (`application-local.yml:7,13`,
  * `README.adoc:27`). The engine models that as a trait carried alongside the
  * pipeline — never inside Catalyst — so the offline file-backed impl and a
  * production HTTP impl are interchangeable.
  *
  * Ids are the canonical-form Rabin fingerprint of the schema
  * (`SchemaNormalization.parsingFingerprint64`), so registration is idempotent
  * and two registries assign the same id to the same schema — which is exactly
  * the property that makes "replicate only the necessary schema"
  * (`README.adoc:11-12`) safe under retries.
  */
trait SchemaRegistry {
  /** Register (idempotently) and return the schema id. */
  def register(subject: String, schema: Schema): Long
  def byId(id: Long): Option[Schema]
  def latest(subject: String): Option[(Long, Schema)]
  def subjects: Seq[String]
  /** Version number of the subject's latest schema. Registries without a
    * version history report 1 for any registered subject. */
  def latestVersion(subject: String): Option[Int] = latest(subject).map(_ => 1)
  /** (version, id, schema) of the latest entry as ONE consistent snapshot —
    * override where latest/latestVersion would otherwise be two reads. */
  def latestEntry(subject: String): Option[(Int, Long, Schema)] =
    for { (id, s) <- latest(subject); v <- latestVersion(subject) } yield (v, id, s)
}

object SchemaRegistry {
  def fingerprint(schema: Schema): Long =
    SchemaNormalization.parsingFingerprint64(schema)
}

/** In-memory registry (tests, single-process pipelines). */
final class InMemorySchemaRegistry extends SchemaRegistry {
  private val byIdMap = scala.collection.concurrent.TrieMap.empty[Long, Schema]
  private val bySubject = scala.collection.concurrent.TrieMap.empty[String, List[Long]]

  def register(subject: String, schema: Schema): Long = {
    val id = SchemaRegistry.fingerprint(schema)
    byIdMap.putIfAbsent(id, schema)
    bySubject.updateWith(subject) {
      case Some(ids) if ids.contains(id) => Some(ids)
      case Some(ids)                     => Some(id :: ids)
      case None                          => Some(id :: Nil)
    }
    id
  }
  def byId(id: Long): Option[Schema] = byIdMap.get(id)
  def latest(subject: String): Option[(Long, Schema)] =
    bySubject.get(subject).flatMap(_.headOption).map(id => id -> byIdMap(id))
  def subjects: Seq[String] = bySubject.keys.toSeq.sorted
}

/** File-backed registry: `<root>/<subject>/<id>.avsc` plus a `_latest` marker.
  * Registration is idempotent (content-addressed file name) and last-writer
  * -wins on the marker — adequate for a single driver; a production deployment
  * swaps in a Confluent-HTTP implementation of the same trait. Both files
  * are written through [[graft.Commit]], so a crash never leaves a
  * truncated one. */
final class FileSchemaRegistry(root: String) extends SchemaRegistry {
  private def subjectDir(s: String): Path = Paths.get(root, s)

  def register(subject: String, schema: Schema): Long = {
    val id = SchemaRegistry.fingerprint(schema)
    val dir = subjectDir(subject)
    Commit.publish(dir.resolve(s"$id.avsc"),
      schema.toString(true).getBytes(StandardCharsets.UTF_8))
    val marker = dir.resolve("_latest")
    if (!Files.exists(marker) || Files.readString(marker).trim != id.toString)
      Commit.replace(marker, id.toString.getBytes(StandardCharsets.UTF_8))
    id
  }

  def byId(id: Long): Option[Schema] =
    subjects.iterator
      .map(s => subjectDir(s).resolve(s"$id.avsc"))
      .find(Files.exists(_))
      .map(p => new Schema.Parser().parse(Files.readString(p)))

  def latest(subject: String): Option[(Long, Schema)] = {
    val marker = subjectDir(subject).resolve("_latest")
    if (!Files.exists(marker)) None
    else {
      val id = Files.readString(marker).trim.toLong
      byId(id).map(id -> _)
    }
  }

  def subjects: Seq[String] =
    if (!Files.exists(Paths.get(root))) Nil
    else {
      val st = Files.list(Paths.get(root))
      try st.iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
      finally st.close()
    }
}

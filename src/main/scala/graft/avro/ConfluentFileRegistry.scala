package graft.avro

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.Commit
import org.apache.avro.{Schema, SchemaCompatibility}
import org.apache.avro.SchemaCompatibility.SchemaCompatibilityType

import scala.jdk.CollectionConverters._

/** Confluent-shaped registry: ids are PER-REGISTRY monotonically-assigned
  * small ints (not content-addressed), subjects carry a linear version
  * history, and registration enforces BACKWARD compatibility against the
  * subject's latest version — the semantics of the HTTP registries the
  * reference points at (`application-local.yml:7,13`). Re-registering a
  * schema already in the subject returns its existing id (Confluent's
  * idempotent POST).
  *
  * Because ids are registry-local, the same schema gets DIFFERENT ids in
  * source and target registries — which is exactly the id-mapping problem
  * the reference's "only the necessary schema is replicated" behavior solves
  * (`README.adoc:11-12,27`): the replicator re-registers the schema in the
  * target and re-frames values with the target's id, never forwarding source
  * ids. [[graft.streaming.Replication]] does the same through the
  * [[SchemaRegistry]] trait, so it runs unchanged over this registry and the
  * fingerprint-id [[FileSchemaRegistry]] — proving the trait, not the id
  * scheme, is the contract.
  *
  * Layout: `<root>/ids/<id>.avsc`, `<root>/subjects/<subject>/<version>`
  * (file body = id), each file committed whole by [[graft.Commit]].
  * Single-writer (the driver); a production deployment swaps in the HTTP
  * client behind the same trait.
  */
final class ConfluentFileRegistry(root: String,
                                  compatibility: String = "BACKWARD")
    extends SchemaRegistry {

  require(Set("NONE", "BACKWARD", "FORWARD", "FULL",
    "BACKWARD_TRANSITIVE", "FORWARD_TRANSITIVE", "FULL_TRANSITIVE")(compatibility),
    s"unknown compatibility mode $compatibility")

  private def idsDir: Path = Paths.get(root, "ids")
  private def subjectDir(s: String): Path = Paths.get(root, "subjects", s)

  private def versionsOf(subject: String): Seq[(Int, Long)] = {
    val dir = subjectDir(subject)
    Commit.numbered(dir, "").map(v =>
      v.toInt -> Files.readString(dir.resolve(v.toString)).trim.toLong)
  }

  def register(subject: String, schema: Schema): Long = synchronized {
    val versions = versionsOf(subject)
    // Idempotence compares the FULL schema text, not the parsing
    // fingerprint: Avro's canonical form strips logical types and defaults,
    // so fingerprint equality would silently swallow a version that only
    // adds e.g. timestamp-millis — real Confluent registers it as new.
    val text = schema.toString
    versions.find { case (_, id) =>
      byId(id).exists(_.toString == text)
    } match {
      case Some((_, id)) => id // already registered under this subject
      case None =>
        // BACKWARD (Confluent default): the new schema must read data
        // written under the subject's current latest schema; FORWARD: the
        // latest must read data written under the new; FULL: both. The
        // *_TRANSITIVE forms run the same check against EVERY registered
        // version, not just the latest — on a mixed-version topic (which
        // this engine replicates per-record) latest-only BACKWARD admits a
        // schema that cannot read the older versions still on the wire;
        // transitive is what actually guarantees decodability there.
        // A registered version whose schema file is unreadable is registry
        // corruption: fail the registration loudly — silently skipping the
        // check (or falling back to an older version) would admit schemas
        // no current consumer can be validated against.
        def resolve(v: Int, id: Long): (Int, Schema) =
          v -> byId(id).getOrElse(throw new IllegalStateException(
            s"schema id $id (subject $subject v$v) is unreadable; cannot check compatibility"))
        val against: Seq[(Int, Schema)] =
          if (compatibility.endsWith("_TRANSITIVE"))
            versions.map { case (v, id) => resolve(v, id) }
          else
            versions.lastOption.toSeq.map { case (v, id) => resolve(v, id) }
        against.foreach { case (version, prior) =>
          def check(reader: Schema, writer: Schema, direction: String): Unit = {
            val result = SchemaCompatibility
              .checkReaderWriterCompatibility(reader, writer).getResult
            if (result.getCompatibility != SchemaCompatibilityType.COMPATIBLE)
              throw new IllegalStateException(
                s"schema for subject $subject is $direction-incompatible with " +
                  s"version $version: ${result.getIncompatibilities.asScala
                    .map(_.getMessage).mkString("; ")}")
          }
          compatibility.stripSuffix("_TRANSITIVE") match {
            case "NONE"     => ()
            case "BACKWARD" => check(schema, prior, "backward")
            case "FORWARD"  => check(prior, schema, "forward")
            case "FULL"     => check(schema, prior, "backward")
                               check(prior, schema, "forward")
          }
        }
        // the id file first: a crash between the two leaves an id no
        // version names, which nextId skips
        val id = nextId()
        claim(idsDir.resolve(s"$id.avsc"), schema.toString(true))
        val version = versions.lastOption.map(_._1 + 1).getOrElse(1)
        claim(subjectDir(subject).resolve(version.toString), id.toString)
        id
    }
  }

  /** Commit a new registry file; another writer's file at `path` breaks
    * the single-writer rule and fails the registration. */
  private def claim(path: Path, body: String): Unit =
    if (!Commit.publish(path, body.getBytes(StandardCharsets.UTF_8)))
      throw new IllegalStateException(s"$path was written by another registry writer")

  private def nextId(): Long =
    if (!Files.exists(idsDir)) 1L
    else {
      val s = Files.list(idsDir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".avsc") && n.stripSuffix(".avsc").forall(_.isDigit))
        .map(_.stripSuffix(".avsc").toLong)
        .foldLeft(0L)(math.max) + 1L
      finally s.close()
    }

  def byId(id: Long): Option[Schema] = {
    val f = idsDir.resolve(s"$id.avsc")
    if (Files.exists(f)) Some(new Schema.Parser().parse(Files.readString(f)))
    else None
  }

  def latest(subject: String): Option[(Long, Schema)] =
    versionsOf(subject).lastOption.flatMap { case (_, id) =>
      byId(id).map(id -> _)
    }

  override def latestVersion(subject: String): Option[Int] =
    versionsOf(subject).lastOption.map(_._1)

  override def latestEntry(subject: String): Option[(Int, Long, Schema)] =
    versionsOf(subject).lastOption.flatMap { case (v, id) =>
      byId(id).map((v, id, _)) // one snapshot of the version list
    }

  def subjects: Seq[String] = {
    val dir = Paths.get(root, "subjects")
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }
}

/** Serializable pointer to a registry, shippable inside Catalyst expressions
  * to executors (the expression opens the registry lazily on each executor;
  * at 100 TB the root is a shared store / DFS path and lookups are cached
  * per-executor). Also names the wire framing the registry's producers use,
  * so encode and id scheme always travel together. */
trait RegistryRef extends Serializable {
  def open(): SchemaRegistry
  /** Wire magic for values produced against this registry. */
  def magic: Byte
}

/** Fingerprint-id file registry — graft framing (magic 'G', int64 ids). */
final case class FileRegistryRef(root: String) extends RegistryRef {
  def open(): SchemaRegistry = new FileSchemaRegistry(root)
  def magic: Byte = WireFormat.GraftMagic
}

/** Confluent-shaped registry — Confluent framing (magic 0x00, int32 ids). */
final case class ConfluentRegistryRef(root: String) extends RegistryRef {
  def open(): SchemaRegistry = new ConfluentFileRegistry(root)
  def magic: Byte = WireFormat.ConfluentMagic
}

package graft

import java.nio.file.Files

import graft.avro.{ConfluentFileRegistry, SchemaRegistry}
import org.apache.avro.Schema
import org.scalatest.funsuite.AnyFunSuite

/** Confluent-shaped registry semantics: per-registry monotonic int ids,
  * linear subject versions, idempotent re-registration, and BACKWARD
  * compatibility enforcement — the behaviors of the HTTP registries the
  * reference points at (`application-local.yml:7,13`). */
class RegistrySpec extends AnyFunSuite {

  private def parse(json: String): Schema = new Schema.Parser().parse(json)

  private val v1 = parse(
    """{"type":"record","name":"Evo","fields":[
      |  {"name":"id","type":"string"}]}""".stripMargin)
  private val v2 = parse( // adds an optional field: backward-compatible
    """{"type":"record","name":"Evo","fields":[
      |  {"name":"id","type":"string"},
      |  {"name":"score","type":["null","double"],"default":null}]}""".stripMargin)
  // new required field without default: the new reader cannot read old data
  private val bad = parse(
    """{"type":"record","name":"Evo","fields":[
      |  {"name":"id","type":"string"},
      |  {"name":"must","type":"long"}]}""".stripMargin)

  test("ids are monotonic per registry; re-registration is idempotent") {
    val reg = new ConfluentFileRegistry(Files.createTempDirectory("creg").toString)
    assert(reg.register("evo-value", v1) === 1L)
    assert(reg.register("evo-value", v1) === 1L) // idempotent POST
    assert(reg.register("evo-value", v2) === 2L) // next version, next id
    assert(reg.register("other-value", v1) === 3L) // ids are registry-global
    assert(reg.latest("evo-value").map(_._1) === Some(2L))
    assert(reg.byId(1L).map(_.getFields.size()) === Some(1))
    assert(reg.subjects === Seq("evo-value", "other-value"))
  }

  test("two registries assign independent ids to the same schema") {
    val a = new ConfluentFileRegistry(Files.createTempDirectory("cregA").toString)
    val b = new ConfluentFileRegistry(Files.createTempDirectory("cregB").toString)
    a.register("pad-value", v2) // skew a's counter
    val idA = a.register("evo-value", v1)
    val idB = b.register("evo-value", v1)
    assert(idA === 2L && idB === 1L, "ids are registry-local, not content-addressed")
  }

  test("backward-incompatible registration is rejected") {
    val reg = new ConfluentFileRegistry(Files.createTempDirectory("creg2").toString)
    reg.register("evo-value", v1)
    val e = intercept[IllegalStateException](reg.register("evo-value", bad))
    assert(e.getMessage.contains("backward-incompatible"))
    assert(reg.latest("evo-value").map(_._1) === Some(1L), "failed registration must not advance")
  }

  test("logical-type-only schema change registers as a NEW version") {
    // parsing fingerprints strip logical types — dedup must not use them
    val plain = parse(
      """{"type":"record","name":"T","fields":[{"name":"ts","type":"long"}]}""")
    val millis = parse(
      """{"type":"record","name":"T","fields":[
        |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}}]}""".stripMargin)
    val reg = new ConfluentFileRegistry(Files.createTempDirectory("creg4").toString)
    assert(reg.register("t-value", plain) === 1L)
    assert(reg.register("t-value", millis) === 2L,
      "a timestamp-millis refinement is a distinct schema, not a duplicate")
    assert(reg.latestVersion("t-value") === Some(2))
    assert(reg.byId(2L).exists(_.getFields.get(0).schema().getLogicalType != null))
  }

  test("HTTP latest reports the real version number") {
    import graft.avro.{ConfluentHttpRegistry, ConfluentHttpServer}
    import com.fasterxml.jackson.databind.ObjectMapper
    val backing = new ConfluentFileRegistry(Files.createTempDirectory("creg5").toString)
    val (server, baseUrl) = ConfluentHttpServer.serve(backing)
    try {
      val http = new ConfluentHttpRegistry(baseUrl)
      http.register("evo-value", v1)
      http.register("evo-value", v2)
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"$baseUrl/subjects/evo-value/versions/latest")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val node = new ObjectMapper().readTree(resp.body())
      assert(node.get("version").asInt() === 2)
      assert(node.get("id").asLong() === 2L)
    } finally server.stop(0)
  }

  test("compatibility modes: NONE accepts anything, FORWARD/FULL reject field removal") {
    // removing a field WITHOUT default: backward-OK (new reader skips it),
    // forward-INCOMPATIBLE (old reader can't find it in new data)
    val removed = parse(
      """{"type":"record","name":"Evo","fields":[]}""")
    def fresh(mode: String) =
      new ConfluentFileRegistry(Files.createTempDirectory(s"creg-$mode").toString, mode)

    val none = fresh("NONE")
    none.register("evo-value", v1)
    assert(none.register("evo-value", bad) === 2L, "NONE must accept anything")

    val backward = fresh("BACKWARD")
    backward.register("evo-value", v1)
    assert(backward.register("evo-value", removed) === 2L,
      "field removal is backward-compatible")

    val forward = fresh("FORWARD")
    forward.register("evo-value", v1)
    val e = intercept[IllegalStateException](forward.register("evo-value", removed))
    assert(e.getMessage.contains("forward-incompatible"))

    val full = fresh("FULL")
    full.register("evo-value", v1)
    assert(full.register("evo-value", v2) === 2L, "optional-field add passes FULL")
    assert(intercept[IllegalStateException](full.register("evo-value", removed))
      .getMessage.contains("forward-incompatible"))
  }

  test("transitive compatibility checks the full history, not just latest") {
    def fresh(mode: String) =
      new ConfluentFileRegistry(Files.createTempDirectory(s"creg-$mode").toString, mode)
    // BACKWARD vs BACKWARD_TRANSITIVE: v3 reads v2 (field present) but not
    // v1 (field absent, no default in v3) — latest-only admits it, the
    // transitive mode must reject exactly because v1-era records are still
    // on a mixed-version topic.
    val e1 = parse("""{"type":"record","name":"Evo","fields":[]}""")
    val e2 = parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"x","type":"string","default":"d"}]}""".stripMargin)
    val e3 = parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"x","type":"string"}]}""".stripMargin)
    val latestOnly = fresh("BACKWARD")
    latestOnly.register("evo-value", e1)
    latestOnly.register("evo-value", e2)
    assert(latestOnly.register("evo-value", e3) === 3L,
      "latest-only BACKWARD admits a schema that cannot read v1")
    val transitive = fresh("BACKWARD_TRANSITIVE")
    transitive.register("evo-value", e1)
    transitive.register("evo-value", e2)
    val eb = intercept[IllegalStateException](transitive.register("evo-value", e3))
    assert(eb.getMessage.contains("version 1"),
      s"rejection must name the incompatible historical version: ${eb.getMessage}")

    // FORWARD vs FORWARD_TRANSITIVE: dropping x is fine for the v2 reader
    // (it has a default) but not for the v1 reader (it doesn't).
    val f1 = e3 // x required, no default
    val f2 = e2 // x with default
    val f3 = e1 // x removed
    val fLatest = fresh("FORWARD")
    fLatest.register("evo-value", f1)
    fLatest.register("evo-value", f2)
    assert(fLatest.register("evo-value", f3) === 3L)
    val fTrans = fresh("FORWARD_TRANSITIVE")
    fTrans.register("evo-value", f1)
    fTrans.register("evo-value", f2)
    assert(intercept[IllegalStateException](fTrans.register("evo-value", f3))
      .getMessage.contains("forward-incompatible"))

    // FULL vs FULL_TRANSITIVE: each consecutive pair is two-way safe
    // (defaulted field removed, then re-added with a DIFFERENT type), but
    // g3 cannot read g1-era data — only the transitive mode catches it.
    val g1 = parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"x","type":"string","default":"a"}]}""".stripMargin)
    val g2 = parse("""{"type":"record","name":"Evo","fields":[]}""")
    val g3 = parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"x","type":"int","default":0}]}""".stripMargin)
    val fullLatest = fresh("FULL")
    fullLatest.register("evo-value", g1)
    fullLatest.register("evo-value", g2)
    assert(fullLatest.register("evo-value", g3) === 3L,
      "latest-only FULL admits the type flip hidden behind the removal")
    val fullTrans = fresh("FULL_TRANSITIVE")
    fullTrans.register("evo-value", g1)
    fullTrans.register("evo-value", g2)
    assert(intercept[IllegalStateException](fullTrans.register("evo-value", g3))
      .getMessage.contains("version 1"))

    // and FULL_TRANSITIVE still accepts genuinely two-way-safe evolution
    val full = fresh("FULL_TRANSITIVE")
    full.register("evo-value", v1)
    assert(full.register("evo-value", v2) === 2L)
  }

  test("stray files in registry directories are ignored, not fatal") {
    val root = Files.createTempDirectory("creg6").toString
    val reg = new ConfluentFileRegistry(root)
    reg.register("evo-value", v1)
    Files.writeString(java.nio.file.Paths.get(root, "subjects", "evo-value", "versions.bak"), "junk")
    Files.writeString(java.nio.file.Paths.get(root, "ids", ".DS_Store"), "junk")
    // what killed publishes leave: staged files, one of them truncated,
    // in the staging directories of the next id and version and in bare
    // `.staging` directories
    def debris(rel: String, body: String): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
      ()
    }
    debris("subjects/evo-value/.staging-2/0c5e", "")
    debris("subjects/evo-value/.staging/2", "7")
    debris("ids/.staging-2.avsc/9a1f", """{"type":"record","name":"Ev""")
    debris("ids/.staging/2.avsc", "junk")
    assert(reg.latest("evo-value").map(_._1) === Some(1L))
    assert(reg.register("evo-value", v2) === 2L)
    assert(reg.latest("evo-value") === Some(2L -> v2))
    assert(reg.latestVersion("evo-value") === Some(2))
  }

  test("file registry lookups close their directory listings") {
    val fdDir = java.nio.file.Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fdDir), "needs /proc/self/fd")
    def openFds(): Int = { System.gc(); fdDir.toFile.list().length }
    val reg = new graft.avro.FileSchemaRegistry(
      Files.createTempDirectory("freg-fds").toString)
    val id = reg.register("evo-value", v1)
    reg.register("other-value", v2)
    val before = openFds()
    (1 to 2000).foreach(_ => assert(reg.byId(id).isDefined))
    val grown = openFds() - before
    assert(grown < 50, s"2000 lookups left $grown descriptors open")
  }

  test("concurrent file registry registrations of one subject never throw") {
    val reg = new graft.avro.FileSchemaRegistry(
      Files.createTempDirectory("freg-race").toString)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (1 to 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (1 to 25).foreach(i =>
            reg.register("evo-value", if ((t + i) % 2 == 0) v1 else v2))
        })
      }
      runs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(reg.byId(SchemaRegistry.fingerprint(v1)) === Some(v1))
    assert(reg.byId(SchemaRegistry.fingerprint(v2)) === Some(v2))
    assert(reg.latest("evo-value").exists(l => Set(v1, v2)(l._2)))
  }

  test("HTTP client reports the real latest version, not the trait default") {
    import graft.avro.{ConfluentHttpRegistry, ConfluentHttpServer}
    val backing = new ConfluentFileRegistry(Files.createTempDirectory("creg7").toString)
    val (server, baseUrl) = ConfluentHttpServer.serve(backing)
    try {
      val http = new ConfluentHttpRegistry(baseUrl)
      http.register("evo-value", v1)
      http.register("evo-value", v2)
      assert(http.latestVersion("evo-value") === Some(2))
      assert(http.latestEntry("evo-value").map(e => (e._1, e._2)) === Some((2, 2L)))
    } finally server.stop(0)
  }

  test("truncated wire frames fail loudly, not with buffer underflow") {
    import graft.avro.WireFormat
    val e1 = intercept[IllegalArgumentException](
      WireFormat.unframe(Array[Byte](0x47, 1, 2, 3, 4, 5))) // graft magic, 6 bytes
    assert(e1.getMessage.contains("truncated"))
    val e2 = intercept[IllegalArgumentException](
      WireFormat.unframe(Array[Byte](9, 9, 9, 9, 9))) // unknown magic
    assert(e2.getMessage.contains("magic"))
  }

  test("Confluent REST protocol round-trips through the HTTP client/server pair") {
    import graft.avro.{ConfluentHttpRegistry, ConfluentHttpServer}
    val backing = new ConfluentFileRegistry(Files.createTempDirectory("creg3").toString)
    val (server, baseUrl) = ConfluentHttpServer.serve(backing)
    try {
      val http = new ConfluentHttpRegistry(baseUrl)
      val id1 = http.register("evo-value", v1)
      assert(id1 === 1L)
      assert(http.register("evo-value", v1) === 1L) // idempotent over the wire
      assert(http.register("evo-value", v2) === 2L)
      assert(http.byId(1L).map(_.getFields.size()) === Some(1))
      assert(http.byId(99L).isEmpty) // 404 → None
      assert(http.latest("evo-value").map(_._1) === Some(2L))
      assert(http.latest("nope-value").isEmpty)
      assert(http.subjects === Seq("evo-value"))
      // incompatible registration surfaces as the Confluent 409 error
      val e = intercept[IllegalStateException](http.register("evo-value", bad))
      assert(e.getMessage.contains("409"))
      // HTTP client and file backing agree on everything
      assert(backing.latest("evo-value").map(_._1) === http.latest("evo-value").map(_._1))
    } finally server.stop(0)
  }
}

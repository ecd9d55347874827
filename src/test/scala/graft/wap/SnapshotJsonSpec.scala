package graft.wap

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.SparkSpecBase

/** Snapshot documents leave out every [[ManifestRef]] field equal to its
  * constructor default, and json4s fills it back on read: a document
  * written in full and its trimmed form parse to the same snapshot. */
class SnapshotJsonSpec extends SparkSpecBase {
  private implicit val fmts: Formats = DefaultFormats

  private def parse(json: String): Snapshot = Serialization.read[Snapshot](json)

  test("a full and a trimmed snapshot document parse to the same snapshot") {
    val root = Files.createTempDirectory("snap-json").toString
    val cat = new BranchCatalog(spark, root)
    val rows = spark.range(0, 20).select(col("id"), (col("id") % 3).as("v"))
    cat.createTableIfNotExists("t", rows.schema)
    cat.append("t", rows.filter(col("id") < 10))
    cat.append("t", rows.filter(col("id") >= 10))
    cat.deleteKeysMOR("t", rows.filter(col("id") === 3L).select("id"))
    val snap = cat.snapshotMeta("t", cat.snapshotIdOf("t").get)
    assert(snap.manifests.size == 2 && snap.deleteManifests.size == 1)

    val full = Serialization.write(snap)
    val trimmed = BranchCatalog.snapshotJson(snap)
    assert(parse(full) == snap && parse(trimmed) == snap)
    assert(trimmed.length < full.length)
    Seq("pvLower", "pvUpper", "posDelete", "firstRowId").foreach(f =>
      assert(full.contains(s""""$f"""") && !trimmed.contains(s""""$f""""), f))
    // the committed document on disk is the trimmed form
    val onDisk = new String(Files.readAllBytes(
      Paths.get(root, "tables", "t", "meta", s"snap-${snap.id}.json")), StandardCharsets.UTF_8)
    assert(onDisk == trimmed)
  }

  test("a manifest ref with no field at its default round-trips") {
    val ref = ManifestRef("m.json", 3L, 10L, asOf = Some("s0"), seq = 5L, keyCols = Seq("id"),
      bytes = 7L, nullCounts = Map("id" -> 1L), lower = Map("id" -> "1"),
      upper = Map("id" -> "9"), statsV = 2, pvLower = Map("pv0" -> "a"),
      pvUpper = Map("pv0" -> "b"), posDelete = true, firstRowId = 0L)
    val defaults = ManifestRef("d.json", 1L, 2L)
    val snap = Snapshot("s1", Some("s0"), Seq(ref, defaults), "id BIGINT", 1L,
      deleteManifests = Seq(defaults, ref), seq = 2L)
    assert(parse(BranchCatalog.snapshotJson(snap)) == snap)
    assert(BranchCatalog.snapshotJson(snap).contains(
      """{"path":"d.json","fileCount":1,"rows":2}"""))
  }
}

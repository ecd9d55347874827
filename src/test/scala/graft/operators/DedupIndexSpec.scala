package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** The persisted MinHash-LSH dedup index (W72 — the W60 vector-index
  * lifecycle applied to text dedup): banded signatures live as a lake
  * table, refresh signs only appended docs, and a new batch dedups
  * against the whole corpus in O(batch) with results IDENTICAL to the
  * one-shot batch operator on the union corpus. */
class DedupIndexSpec extends SparkSpecBase {

  private var n = 0
  private def freshCat(): BranchCatalog = {
    n += 1
    new BranchCatalog(spark, Files.createTempDirectory(s"dedupidx$n").toString)
  }

  private def docs(lo: Long, hi: Long): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select("doc_id", "text")

  /** Exact copies of docs [0, k) under shifted ids — guaranteed
    * jaccard-1.0 near-dups of the corpus. */
  private def copies(k: Long, shift: Long): DataFrame =
    docs(0, k).select((col("doc_id") + shift).as("doc_id"), col("text"))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("index-served pairs equal the batch operator's on the union corpus") {
    val cat = freshCat()
    val corpus = docs(0, 300)
    cat.createTableIfNotExists("documents", corpus.schema)
    cat.append("documents", corpus)
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")

    val batch = docs(300, 400).unionByName(copies(20, 5000))
    val served = pairSet(
      DedupIndex.pairsAgainst(spark, cat, "documents", "text", batch))

    val batchIds = batch.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val all = corpus.unionByName(batch)
    val reference = pairSet(Dedup.minhashPairs(all, "doc_id", "text"))
      .filter { case (a, b) => batchIds.contains(a) || batchIds.contains(b) }
    assert(served == reference, s"served ${served.size} vs batch ${reference.size}")
    assert(served.nonEmpty, "planted copies must pair")
    // every planted copy paired with its source
    assert((0L until 20L).forall(i => served.contains((i, i + 5000))))
  }

  test("refresh signs only the delta; old band rows are untouched; a delete window refreshes NET, not full") {
    val cat = freshCat()
    cat.createTableIfNotExists("documents", docs(0, 1).schema)
    cat.append("documents", docs(0, 200))
    val params = DedupIndex.Params()
    DedupIndex.build(spark, cat, "documents", "doc_id", "text", params)
    val bandsT = DedupIndex.bandsTable("documents", "text")
    assert(cat.scan(bandsT).count() == 200L * params.bands)
    val before = cat.scan(bandsT).collect().toSet

    assert(DedupIndex.refresh(spark, cat, "documents", "text") == "fresh")
    cat.append("documents", docs(200, 250))
    assert(DedupIndex.refresh(spark, cat, "documents", "text") == "incremental")
    assert(cat.scan(bandsT).count() == 250L * params.bands)
    // pre-existing rows byte-identical (delta-only signing appended)
    assert(cat.scan(bandsT).filter(col("id") < 200).collect().toSet == before)

    // a delete no longer re-signs the corpus: ONE equality tombstone
    // suppresses the deleted ids' band rows, nothing is re-signed
    val corpusSnapBefore = cat.snapshotIdOf(bandsT).get
    cat.deleteWhere("documents", col("doc_id") < 10)
    assert(DedupIndex.refresh(spark, cat, "documents", "text") == "net")
    assert(cat.scan(bandsT).count() == 240L * params.bands)
    assert(cat.scan(bandsT).filter(col("id") < 10).count() == 0L)
    // surviving rows still byte-identical — a full rebuild would have
    // rewritten every band row; the net refresh only tombstoned
    val survivors = before.filter(_.getLong(0) >= 10)
    assert(cat.scan(bandsT).filter(col("id") < 200).collect().toSet == survivors)
    assert(cat.snapshotMeta(bandsT, cat.snapshotIdOf(bandsT).get)
      .deleteManifests.nonEmpty, "the suppression is a MOR tombstone")
    assert(corpusSnapBefore != cat.snapshotIdOf(bandsT).get)
  }

  test("net refresh after a delete serves pairs identical to the batch operator") {
    val cat = freshCat()
    cat.createTableIfNotExists("documents", docs(0, 1).schema)
    cat.append("documents", docs(0, 300))
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")
    // churn: delete a slice, append fresh docs, then refresh NET
    cat.deleteWhere("documents", col("doc_id") >= 100 && col("doc_id") < 150)
    cat.append("documents", docs(300, 350))
    assert(DedupIndex.refresh(spark, cat, "documents", "text") == "net")

    val batch = docs(350, 400).unionByName(copies(20, 9000))
    val served = pairSet(
      DedupIndex.pairsAgainst(spark, cat, "documents", "text", batch))
    val live = docs(0, 300).filter(!(col("doc_id") >= 100 && col("doc_id") < 150))
      .unionByName(docs(300, 350))
    val batchIds = batch.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val reference = pairSet(
      Dedup.minhashPairs(live.unionByName(batch), "doc_id", "text"))
      .filter { case (a, b) => batchIds.contains(a) || batchIds.contains(b) }
    assert(served == reference, s"served ${served.size} vs batch ${reference.size}")
    // deleted docs never surface as pair endpoints
    assert(!served.exists { case (a, b) =>
      (a >= 100 && a < 150) || (b >= 100 && b < 150) })
    assert((0L until 20L).forall(i => served.contains((i, i + 9000))))
  }

  test("a pending equality tombstone on the source is not changelog-readable: refresh runs full") {
    val cat = freshCat()
    cat.createTableIfNotExists("documents", docs(0, 1).schema)
    cat.append("documents", docs(0, 200))
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")
    cat.deleteKeysMOR("documents", docs(0, 10).select("doc_id"))
    assert(DedupIndex.refresh(spark, cat, "documents", "text") == "full")
    val bandsT = DedupIndex.bandsTable("documents", "text")
    val refreshed = cat.scan(bandsT).collect().toSet
    assert(!refreshed.exists(_.getLong(0) < 10), "tombstoned docs must leave the index")
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")
    assert(cat.scan(bandsT).collect().toSet == refreshed,
      "the fallback must equal a fresh build over the same source")
  }

  test("pairsSinceWatermark dedups the un-indexed ingest window") {
    val cat = freshCat()
    cat.createTableIfNotExists("documents", docs(0, 1).schema)
    cat.append("documents", docs(0, 200))
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")
    cat.append("documents", docs(200, 260).unionByName(copies(10, 7000)))

    val pairs = pairSet(
      DedupIndex.pairsSinceWatermark(spark, cat, "documents", "text"))
    assert((0L until 10L).forall(i => pairs.contains((i, i + 7000))))
    // after a full refresh the window is empty -> no pairs since watermark
    DedupIndex.refresh(spark, cat, "documents", "text")
    assert(DedupIndex.pairsSinceWatermark(spark, cat, "documents", "text").isEmpty)
  }

  test("dedupNew: the committed corpus wins regardless of id order; smaller batch id wins intra-batch") {
    val cat = freshCat()
    val corpus = docs(100, 300)
    cat.createTableIfNotExists("documents", corpus.schema)
    cat.append("documents", corpus)
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")

    // batch doc 5 copies corpus doc 100 (SMALLER id than its dup);
    // batch docs 9000/9001 copy each other (intra-batch pair)
    val t100 = docs(100, 101).select(col("text"))
    val batch = docs(300, 350)
      .unionByName(t100.select(lit(5L).as("doc_id"), col("text")))
      .unionByName(t100.select(lit(9000L).as("doc_id"), col("text")))
      .unionByName(t100.select(lit(9001L).as("doc_id"), col("text")))
    val kept = DedupIndex.dedupNew(spark, cat, "documents", "text", batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(5L), "corpus dup must drop even with a smaller id")
    assert(!kept.contains(9000L) && !kept.contains(9001L),
      "both intra-batch copies also duplicate corpus doc 100 — dropped")
    assert(kept.contains(300L))

    // intra-batch-only pair (no corpus dup): smaller id survives
    val t0 = docs(0, 1).select(col("text")) // doc 0 is NOT in the corpus (100..300)
    val batch2 = t0.select(lit(8000L).as("doc_id"), col("text"))
      .unionByName(t0.select(lit(8001L).as("doc_id"), col("text")))
    val kept2 = DedupIndex.dedupNew(spark, cat, "documents", "text", batch2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2.contains(8000L) && !kept2.contains(8001L))
  }

  test("SQL procedures + maintenance sweep drive the lifecycle") {
    val cat = freshCat()
    val lake = s"dedupidxsql$n"
    spark.conf.set(s"spark.sql.catalog.$lake",
      classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", cat.root)
    cat.createTableIfNotExists("documents", docs(0, 1).schema)
    cat.append("documents", docs(0, 100))

    spark.sql(s"CALL $lake.system.build_dedup_index('documents', 'doc_id', 'text')")
    val bandsT = DedupIndex.bandsTable("documents", "text")
    assert(cat.scan(bandsT).count() == 100L * 16)

    cat.append("documents", docs(100, 120))
    spark.sql(s"CALL $lake.system.refresh_dedup_index('documents', 'text')")
    assert(cat.scan(bandsT).count() == 120L * 16)

    // the W65 maintenance sweep advances it when the property opts in
    cat.setTableProperties("documents",
      Map("graft.maintain.refresh-dedup-index" -> "text"))
    cat.append("documents", docs(120, 130))
    val acts = graft.sql.GraftMaintenance.run(spark, cat, "documents")
    assert(acts.exists { case (a, d) => a == "refresh-dedup-index" && d.contains("incremental") },
      acts.toString)
    assert(cat.scan(bandsT).count() == 130L * 16)

    spark.sql(s"CALL $lake.system.drop_dedup_index('documents', 'text')")
    assert(!cat.tableExists(bandsT))
  }


  test("exportIndex: real DuckDB reproduces the candidate pairs from the artifact alone") {
    assume(duckdbAvailable, "host python3 lacks duckdb")
    val cat = freshCat()
    val corpus = docs(0, 200).unionByName(copies(15, 7000))
    cat.createTableIfNotExists("documents", corpus.schema)
    cat.append("documents", corpus)
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")
    val dest = Files.createTempDirectory("dedupidx-export").toString
    val arts = DedupIndex.exportIndex(spark, cat, "documents", "text", dest)

    // graft's own candidate set from the SAME index bands
    val bands = cat.scan(DedupIndex.bandsTable("documents", "text"))
      .select(col("id").as("__id"), col("band").as("__band"), col("bkey").as("__bkey"))
    val want = pairSet(Dedup.bucketPairs(bands, "__band", "__bkey"))
    assert(want.nonEmpty, "planted copies must land in shared buckets")

    // the SHIPPED candidates.sql verbatim against the exported bands
    val script =
      s"""import duckdb
         |con = duckdb.connect()
         |con.execute(open('$dest/bands/view.sql').read())
         |rows = con.execute(open('$dest/candidates.sql').read()).fetchall()
         |for a, b in rows:
         |    print(f"{a},{b}")
         |""".stripMargin
    val out = new StringBuilder
    val rc = scala.sys.process.Process(Seq("python3", "-c", script))
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    assert(rc == 0, s"duckdb candidates.sql failed:\n$out")
    val got = out.toString.trim.split("\n").filter(_.nonEmpty).map { l =>
      val Array(a, b) = l.split(","); (a.toLong, b.toLong)
    }.toSet
    assert(got == want,
      s"foreign candidates ${got.size} != graft's ${want.size}")
    // every planted copy is a candidate of its source on the foreign side
    assert((0L until 15L).forall(i => got.contains((i, i + 7000))))

    // re-export clears the prior artifact completely: no stale files from
    // an earlier export (or another index kind) survive under the fresh
    // manifest
    val stale = java.nio.file.Paths.get(dest, "stale-other-index.sql")
    java.nio.file.Files.writeString(stale, "leftover")
    DedupIndex.exportIndex(spark, cat, "documents", "text", dest)
    assert(!java.nio.file.Files.exists(stale), "prior artifacts must clear")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dest, "candidates.sql")))
  }

  test("snapshot expiry keeps the index watermark live on EVERY path; refresh stays O(delta)") {
    val cat = freshCat()
    cat.createTableIfNotExists("documents", docs(0, 1).schema)
    cat.append("documents", docs(0, 150))
    DedupIndex.build(spark, cat, "documents", "doc_id", "text")
    val wm = DedupIndex.watermark(cat, "documents", "text").get
    // the table moves on WITHOUT an index refresh: the watermark snapshot
    // falls behind both the head and retain-last
    cat.append("documents", docs(150, 200))
    cat.compactDataFiles("documents", targetFiles = 1)
    // the flagship maintenance expiry (retainLast=1, no keepIds from the
    // caller) must keep the recorded watermark alive by itself
    cat.expireSnapshots("documents")
    assert(cat.snapshotMetaOpt("documents", wm).isDefined,
      "expiry reclaimed the index watermark — the next refresh would be a full rebuild")
    val mode = DedupIndex.refresh(spark, cat, "documents", "text")
    assert(mode == "net", s"expected the O(delta) net refresh, got $mode")
    // ... and once refreshed, the OLD watermark is expirable again
    cat.expireSnapshots("documents")
    assert(cat.snapshotMetaOpt("documents", wm).isEmpty,
      "a superseded watermark must not pin history forever")
  }

  test("the dedup check's per-key counts pair NULL keys: equal multisets compare equal") {
    import spark.implicits._
    val a = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (1L, 2L), (null, 3L), (null, null), (4L, null))
      .toDF("id_a", "id_b")
    val same = Seq[(java.lang.Long, java.lang.Long)]((null, null), (4L, null), (1L, 2L), (null, 3L), (1L, 2L))
      .toDF("id_a", "id_b")
    def diffs(x: DataFrame, y: DataFrame): Long =
      CheckQueries.keyCounts(x, y, Seq("id_a", "id_b")).filter(col("__s") =!= col("__r")).count()
    assert(diffs(a, same) == 0L)
    assert(CheckQueries.keyCounts(a, same, Seq("id_a", "id_b")).count() == 4L,
      "one row per distinct key, the NULL keys included")
    // a missing or an extra NULL-keyed row is a difference
    assert(diffs(a, same.filter(col("id_b").isNotNull)) == 2L)
    assert(diffs(a, same.unionByName(a.filter(col("id_a").isNull))) == 2L)
  }
}

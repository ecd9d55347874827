package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.wap.BranchCatalog

/** The persisted IVF-PQ lake index ([[VectorIndex]]): build writes the
  * centroids / codes / codebook tables + watermark properties, refresh
  * encodes ONLY appended vectors on append-only windows, and a fresh
  * catalog handle (the next session) serves queries from the stored
  * artifact with results identical to an in-session build. */
class VectorIndexSpec extends SparkSpecBase {

  private var n = 0
  private def freshRoot(): String = {
    n += 1
    Files.createTempDirectory(s"vecidx$n").toString
  }

  private val P = VectorIndex.Params(centroids = 16, ksub = 16,
    trainSample = 256, trainIters = 4, refineSteps = 1)

  private def emb(lo: Long, hi: Long): DataFrame =
    Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select("vec_id", "embedding")

  private def mkLake(root: String, lo: Long, hi: Long): BranchCatalog = {
    val cat = new BranchCatalog(spark, root)
    cat.createTableIfNotExists("emb", emb(0, 1).schema)
    cat.append("emb", emb(lo, hi))
    cat
  }

  private def topk(idx: Similarity.IvfPqIndex, queries: DataFrame): Seq[(Long, Long, Int)] =
    Similarity.ivfTopKPQ(idx, queries, "vec_id", "embedding",
        k = 5, nprobe = 8, candidateFactor = 8)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq

  test("build persists; load answers identically to an in-session build") {
    val root = freshRoot()
    val cat = mkLake(root, 100, 400)
    VectorIndex.build(spark, cat, "emb", "vec_id", "embedding", P)
    val queries = emb(0, 10)

    val inSession = Similarity.prepareIvfPq(cat.scan("emb"), "vec_id", "embedding",
      centroids = P.centroids, seed = P.seed, m = P.m, ksub = P.ksub,
      trainSample = P.trainSample, trainIters = P.trainIters,
      residual = P.residual, refineSteps = P.refineSteps, storage = None)
    val persisted = VectorIndex.load(spark, cat, "emb", "embedding")
    assert(topk(persisted, queries) == topk(inSession, queries),
      "the persisted index must answer exactly like the build it stored")
  }

  test("refresh after append encodes ONLY the delta; fresh is a no-op") {
    val root = freshRoot()
    val cat = mkLake(root, 100, 300)
    VectorIndex.build(spark, cat, "emb", "vec_id", "embedding", P)
    val codesT = VectorIndex.codesTable("emb", "embedding")
    val codesBefore = cat.dataFiles(codesT).map(_.path).toSet
    def codeRow(r: org.apache.spark.sql.Row): (Long, Seq[Byte], Any) =
      (r.getLong(1), r.getAs[Array[Byte]](2).toSeq, r.get(3))
    val oldCodes = cat.scan(codesT).collect()
      .map(r => r.getLong(0) -> codeRow(r)).toMap

    cat.append("emb", emb(300, 400))
    assert(VectorIndex.refresh(spark, cat, "emb", "embedding") == "incremental")
    // the original code files were not rewritten — only delta rows landed
    assert(codesBefore.subsetOf(cat.dataFiles(codesT).map(_.path).toSet),
      "incremental refresh must not rewrite existing code files")
    val after = cat.scan(codesT).collect().map(r => r.getLong(0) -> codeRow(r)).toMap
    assert(after.size == oldCodes.size + emb(300, 400).count())
    // pre-existing codes byte-identical (same centroids, same codec)
    oldCodes.foreach { case (id, row) => assert(after(id) == row) }
    assert(VectorIndex.refresh(spark, cat, "emb", "embedding") == "fresh")
    // queries see the appended vectors
    val got = topk(VectorIndex.load(spark, cat, "emb", "embedding"), emb(0, 5))
    assert(got.nonEmpty)
  }

  test("a delete window refreshes NET: codes tombstoned, nothing re-encoded, recall floor holds") {
    val root = freshRoot()
    val cat = mkLake(root, 100, 300)
    VectorIndex.build(spark, cat, "emb", "vec_id", "embedding", P)
    val codesT = VectorIndex.codesTable("emb", "embedding")
    val codeFilesBefore = cat.dataFiles(codesT).map(_.path).toSet

    cat.deleteWhere("emb", col("vec_id") >= 250)
    cat.append("emb", emb(300, 350)) // churn: delete + fresh appends
    assert(VectorIndex.refresh(spark, cat, "emb", "embedding") == "net")
    assert(cat.scan(codesT).count() == cat.scan("emb").count())
    // deleted ids are suppressed, not rewritten: the original code files
    // survive and a MOR tombstone carries the removal
    assert(cat.scan(codesT).filter(col("neighbor_id") >= 250 &&
      col("neighbor_id") < 300).count() == 0L)
    assert(codeFilesBefore.subsetOf(cat.dataFiles(codesT).map(_.path).toSet),
      "net refresh must not rewrite existing code files")
    assert(cat.snapshotMeta(codesT, cat.snapshotIdOf(codesT).get)
      .deleteManifests.nonEmpty, "the suppression is a MOR tombstone")

    // the served index never returns a deleted id, and recall against
    // brute force holds on the live corpus
    val queries = emb(0, 10)
    val idx = VectorIndex.load(spark, cat, "emb", "embedding")
    val got = Similarity.ivfTopKPQ(idx, queries, "vec_id", "embedding",
        k = 5, nprobe = 8, candidateFactor = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    assert(!got.exists { case (_, nb) => nb >= 250 && nb < 300 })
    val brute = Similarity.bruteForceTopK(cat.scan("emb"), "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.5, s"post-churn recall floor: $recall")
  }

  test("a pending equality tombstone on the source is not changelog-readable: refresh runs full") {
    val cat = mkLake(freshRoot(), 100, 300)
    VectorIndex.build(spark, cat, "emb", "vec_id", "embedding", P)
    cat.deleteKeysMOR("emb", emb(250, 300).select("vec_id"))
    assert(VectorIndex.refresh(spark, cat, "emb", "embedding") == "full")
    def index(): Seq[Set[Seq[Any]]] =
      Seq(VectorIndex.centsTable("emb", "embedding"), VectorIndex.codesTable("emb", "embedding"))
        .map(t => cat.scan(t).collect().map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        }).toSet)
    val refreshed = index()
    assert(cat.scan(VectorIndex.codesTable("emb", "embedding"))
      .filter(col("neighbor_id") >= 250).count() == 0L)
    VectorIndex.build(spark, cat, "emb", "vec_id", "embedding", P)
    assert(index() == refreshed, "the fallback must equal a fresh build over the same source")
  }

  test("a fresh catalog handle serves queries from the stored artifact; recall holds") {
    val root = freshRoot()
    val cat = mkLake(root, 100, 400)
    VectorIndex.build(spark, cat, "emb", "vec_id", "embedding", P)
    val queries = emb(0, 20)

    // new BranchCatalog over the same root = the next session's view
    val cat2 = new BranchCatalog(spark, root)
    val idx = VectorIndex.load(spark, cat2, "emb", "embedding")
    val approx = topk(idx, queries)
    val brute = Similarity.bruteForceTopK(cat2.scan("emb"), "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = approx.count { case (q, nb, _) => brute.contains((q, nb)) }
    val recall = hit.toDouble / brute.size
    assert(recall >= 0.6, s"persisted-index recall $recall below floor")
  }


  test("exportIndex: real DuckDB serves ANN from the exported artifact alone") {
    assume(duckdbAvailable, "host python3 lacks duckdb")
    val root = freshRoot()
    val cat = mkLake(root, 100, 500)
    VectorIndex.build(spark, cat, "emb", "vec_id", "embedding", P)
    val dest = Files.createTempDirectory("vecidx-export").toString
    val arts = VectorIndex.exportIndex(spark, cat, "emb", "embedding", dest,
      k = 10, nprobe = 8)

    // query = a corpus member's vector; the exact top-10 is the bar
    val qRow = emb(150, 151).select("embedding").head
    val qVec = qRow.getSeq[Float](0)
    val brute = Similarity.bruteForceTopK(
      cat.scan("emb"), "vec_id", "embedding",
      emb(150, 151).select(col("vec_id").as("qid"), col("embedding")),
      "qid", "embedding", k = 10)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet

    // run the SHIPPED artifact: four view.sql files, then ann.sql with
    // only the documented query-vector substitution
    val annSql = new String(Files.readAllBytes(
      java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(arts("annSql")).toUri.getPath)))
    val filled = annSql.replace("[/*query vector*/]",
      qVec.mkString("[", ",", "]"))
    val views = Seq("cents", "codes", "corpus").map(d =>
      s"$dest/$d/view.sql")
    val script =
      s"""import duckdb
         |con = duckdb.connect()
         |for v in ${views.map(v => "'" + v + "'").mkString("[", ",", "]")}:
         |    con.execute(open(v).read())
         |rows = con.execute(open('/dev/stdin').read()).fetchall()
         |for r in rows:
         |    print(r[0])
         |""".stripMargin
    val out = new StringBuilder
    val rc = scala.sys.process.Process(Seq("python3", "-c", script))
      .#<(new java.io.ByteArrayInputStream(filled.getBytes("UTF-8")))
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    assert(rc == 0, s"duckdb ann.sql failed:\n$out")
    val served = out.toString.trim.split("\n").filter(_.nonEmpty).map(_.toLong).toSeq
    assert(served.size == 10, s"expected 10 neighbors, got $served")
    // IVF recall vs the exact top-10 — and the query's own row (a corpus
    // member) must route to its own cell and rank first
    val recall = served.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.6, s"foreign-engine ANN recall $recall below floor: $served")
    assert(served.head == 150L, s"self-query must rank itself first: $served")

    // the index manifest documents the layout + covered snapshot
    val man = new String(Files.readAllBytes(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(arts("indexManifest")).toUri.getPath)))
    assert(man.contains("graft-ivfpq-vector-index") && man.contains("coveredSnapshot"))

    // unbuilt index refuses loudly
    val e = intercept[RuntimeException](
      VectorIndex.exportIndex(spark, cat, "emb", "nope", dest + "2"))
    assert(e.getMessage.contains("build_vector_index"), e.getMessage)
  }

  test("SQL procedures: build / refresh / drop round-trip") {
    val root = freshRoot()
    val cat = mkLake(root, 100, 300)
    val lake = "vecidx_" + root.replaceAll("[^a-zA-Z0-9]", "").takeRight(16)
    spark.conf.set(s"spark.sql.catalog.$lake", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$lake.root", root)

    spark.sql(s"CALL $lake.system.build_vector_index('emb', 'vec_id', 'embedding', " +
      "'main', 16, 8, 16)")
    assert(cat.tableExists(VectorIndex.codesTable("emb", "embedding")))
    val exDest = Files.createTempDirectory("vecidx-sqlexp").toString
    spark.sql(s"CALL $lake.system.export_vector_index('emb', 'embedding', '$exDest')")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(exDest, "ann.sql")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(exDest, "corpus", "manifest.json")))
    cat.append("emb", emb(300, 350))
    spark.sql(s"CALL $lake.system.refresh_vector_index('emb', 'embedding')")
    assert(cat.scan(VectorIndex.codesTable("emb", "embedding")).count() ==
      cat.scan("emb").count())
    spark.sql(s"CALL $lake.system.drop_vector_index('emb', 'embedding')")
    assert(!cat.tableExists(VectorIndex.codesTable("emb", "embedding")))
    assert(!cat.tableProperties("emb").keys.exists(_.startsWith("graft.vecidx.")))
  }
}

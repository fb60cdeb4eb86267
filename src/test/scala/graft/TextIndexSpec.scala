package graft

import graft.operators.TextIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Persistent inverted index: index-served BM25 is bit-identical to the
  * direct q82 computation, probes prune to the terms' buckets, and
  * appends are idempotent.
  */
class TextIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-textindex-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def freshIndex(): String = {
    val p = Files.createTempDirectory("graft-textindex").toString + "/inv"
    TextIndex.build(spark, spark.read.parquet(s"$sf/documents.parquet"), p)
    p
  }

  test("index-served BM25 equals the direct computation bit-for-bit") {
    val idx = freshIndex()
    val got = TextIndex
      .search(spark, idx, Seq("spark", "table"), topK = 20)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
    val want = queries.TextQueries
      .q82Bm25(spark, sf)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Double]("bm25")))
      .toSeq
    assert(got.map(_._1) == want.map(_._1), "ranking must match the direct computation")
    got.zip(want).foreach { case ((id, s1), (_, s2)) =>
      assert(s1 == s2, s"doc $id: index-served score $s1 != direct $s2")
    }
    assert(got.nonEmpty)
  }

  test("a search reads only the query terms' posting buckets") {
    val idx = freshIndex()
    val plan = TextIndex
      .search(spark, idx, Seq("spark"), topK = 5)
      .queryExecution
      .executedPlan
      .toString
    assert(
      plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"postings scan must carry a bucket partition filter:\n$plan"
    )
  }

  test("search top-k plans as TakeOrderedAndProject, never a full-corpus single-partition sort") {
    val idx = freshIndex()
    val qe = TextIndex.search(spark, idx, Seq("spark", "table"), topK = 5).queryExecution
    val plan = qe.executedPlan.toString
    // The scored corpus must reach the driver through a per-partition
    // top-k heap merge; the only remaining window sorts <=topK rows.
    assert(plan.contains("TakeOrderedAndProject"), s"top-k heap expected:\n$plan")
    // Parents print before children: the rank window must sit ABOVE the
    // TakeOrderedAndProject (its input is the <=topK survivors), never
    // below it (which would be the old full-corpus global sort).
    val wIdx = plan.indexOf("Window [")
    assert(
      wIdx >= 0 && wIdx < plan.indexOf("TakeOrderedAndProject"),
      s"rank window must consume the limited rows:\n$plan"
    )
  }

  test("append is idempotent and newly indexed docs are searchable") {
    import spark.implicits._
    val idx = freshIndex()
    val nPostings = spark.read.parquet(s"$idx/postings").count()
    val nDocs = spark.read.parquet(s"$idx/docs").count()
    val batch = Seq((900001L, "zzyzx zzyzx zzyzx unique marker")).toDF("doc_id", "text")
    TextIndex.append(spark, batch, idx)
    TextIndex.append(spark, batch, idx) // replay
    assert(spark.read.parquet(s"$idx/docs").count() == nDocs + 1, "replay must not re-add the doc")
    val postingsAfter = spark.read.parquet(s"$idx/postings")
    assert(postingsAfter.filter(col("doc_id") === 900001L).count() == 3, "3 distinct tokens indexed once")
    assert(postingsAfter.count() == nPostings + 3)
    val hit = TextIndex.search(spark, idx, Seq("zzyzx"), topK = 1).collect()(0)
    assert(hit.getLong(0) == 900001L, s"appended doc must be the top hit, got $hit")
  }

  test("compactIndex defragments an appended index; search results unchanged bit-for-bit") {
    import spark.implicits._
    val idx = freshIndex()
    // A trickle of appends fragments docs/ and the touched posting buckets.
    (0 until 6).foreach { i =>
      TextIndex.append(
        spark,
        Seq((910000L + i, s"zzyzx shared term plus unique$i filler$i")).toDF("doc_id", "text"),
        idx
      )
    }
    val before = TextIndex.search(spark, idx, Seq("zzyzx", "shared"), topK = 10).collect().toSeq
    val docFilesBefore = new java.io.File(s"$idx/docs").listFiles().count(_.getName.endsWith(".parquet"))
    assert(docFilesBefore >= 7, s"fixture must start fragmented, got $docFilesBefore")
    val (nd, np) = TextIndex.compactIndex(spark, idx)
    assert(nd == 1, s"docs table compacts to the size-targeted count, got $nd")
    assert(np >= 1, s"fragmented posting buckets rewritten, got $np")
    val docFilesAfter = new java.io.File(s"$idx/docs").listFiles().count(_.getName.endsWith(".parquet"))
    assert(docFilesAfter == 1, s"docs defragmented, got $docFilesAfter")
    val after = TextIndex.search(spark, idx, Seq("zzyzx", "shared"), topK = 10).collect().toSeq
    assert(after == before, "compaction must not change a single score or rank")
  }

  test("search heals crashed compaction strands; refuses to heal under a live lease") {
    val idx = freshIndex()
    def mv(a: String, b: String): Unit =
      java.nio.file.Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b))
    val baseline = TextIndex.search(spark, idx, Seq("the"), topK = 5).collect().toSeq
    // docs compact crash between the swap's renames: docs/ renamed
    // away — until r16 every search then failed on a missing path
    // until the NEXT compaction happened to run entry healing
    mv(s"$idx/docs", s"$idx/docs.__compact_old")
    assert(TextIndex.search(spark, idx, Seq("the"), topK = 5).collect().toSeq == baseline,
      "search must heal the whole-dir strand and serve")
    assert(new java.io.File(s"$idx/docs").exists())
    // postings compaction crash: a bucket dir stranded in the old
    // root is MISSING from the live root — the silent-missing-rows
    // failure mode; the reader must restore it
    val bucket = new java.io.File(s"$idx/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).head.getName
    new java.io.File(s"$idx/postings.__pcompact_old").mkdirs()
    mv(s"$idx/postings/$bucket", s"$idx/postings.__pcompact_old/$bucket")
    assert(TextIndex.search(spark, idx, Seq("the"), topK = 5).collect().toSeq == baseline,
      "search must restore the stranded bucket and serve identical results")
    assert(new java.io.File(s"$idx/postings/$bucket").exists())
    assert(!new java.io.File(s"$idx/postings.__pcompact_old").exists())
    // the same strands under a LIVE index-root lease: ambiguous (a
    // compaction mid-swap or a crash) — refuse rather than race
    mv(s"$idx/docs", s"$idx/docs.__compact_old")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx.__writer"),
      graft.operators.DurableRoot.leaseBody("adhoc:tidx-compact:x"))
    val e = intercept[IllegalArgumentException](TextIndex.search(spark, idx, Seq("the")))
    assert(e.getMessage.contains("refusing to heal under a lease"), e.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx.__writer"))
    assert(TextIndex.search(spark, idx, Seq("the"), topK = 5).collect().toSeq == baseline)
  }

  test("index writers are fenced: append and compactIndex refuse under a live lease") {
    import spark.implicits._
    val idx = freshIndex()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx.__writer"),
      graft.operators.DurableRoot.leaseBody("adhoc:tidx-append:someone-else"))
    val e = intercept[IllegalArgumentException](
      TextIndex.append(spark, Seq((920000L, "hello world")).toDF("doc_id", "text"), idx))
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](TextIndex.compactIndex(spark, idx))
    assert(e2.getMessage.contains("writer lease"), e2.getMessage)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx.__writer"))
    TextIndex.append(spark, Seq((920000L, "hello world")).toDF("doc_id", "text"), idx)
    assert(!new java.io.File(s"$idx.__writer").exists(), "append releases its lease")
    TextIndex.compactIndex(spark, idx)
    assert(!new java.io.File(s"$idx.__writer").exists(), "compactIndex releases its lease")
    assert(TextIndex.search(spark, idx, Seq("hello"), topK = 3).collect().nonEmpty)
  }
}

package graft

import graft.operators.VectorIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Persistent IVF index: exact when probing every cluster, partition-
  * pruned when probing few, recall monotone in nProbe, idempotent
  * appends.
  */
class VectorIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-vecindex-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def vectors: DataFrame =
    spark.read
      .parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  private def freshIndex(): String = {
    val p = Files.createTempDirectory("graft-vecindex").toString + "/ivf"
    VectorIndex.build(spark, vectors, p, isCentroid = col("vec_id") % 100 === 0)
    p
  }

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.graft_dot(a, b)

  test("probing all clusters equals exact brute-force top-k") {
    val idx = freshIndex()
    val nClusters =
      spark.read.parquet(s"$idx/centroids").count().toInt
    val queries = vectors.filter(col("vec_id") < 3)
    val got = VectorIndex
      .query(spark, queries, idx, topK = 5, nProbe = nClusters)
      .select("query_id", "vec_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet

    val e = vectors.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val q = e
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    val want = broadcast(q)
      .join(e, expr("true"), "cross")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "vec_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(got == want, "full-probe IVF must be exact")
    assert(got.nonEmpty)
  }

  test("a probe reads only the probed clusters' partitions") {
    val idx = freshIndex()
    val res = VectorIndex.query(spark, vectors.filter(col("vec_id") === 3), idx, topK = 5, nProbe = 1)
    val plan = res.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters: [isnotnull(cluster"),
      s"assignments scan must carry a cluster partition filter:\n$plan"
    )
    val clusters = res.select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(clusters.size == 1, s"nProbe=1 must search one cluster, got $clusters")
  }

  test("clusterStats accounts for every indexed vector") {
    val idx = freshIndex()
    val stats = VectorIndex.clusterStats(spark, idx)
    val total = stats.agg(sum("n")).collect()(0).getLong(0)
    assert(total == vectors.count(), "histogram must cover the whole index")
    assert(stats.count() == spark.read.parquet(s"$idx/centroids").count(),
      "every centroid's cluster is non-empty at this corpus")
  }

  test("per-query top-k windows get the WindowGroupLimit pushdown") {
    val idx = freshIndex()
    val plan = VectorIndex
      .query(spark, vectors.filter(col("vec_id") < 3), idx, topK = 5, nProbe = 2)
      .queryExecution
      .executedPlan
      .toString
    // `row_number over (partition by query_id) <= k` must rewrite to a
    // group limit so map tasks keep k rows per query before the window
    // sort — a candidate set is |probed clusters| rows deep, and the
    // pre-shuffle prune is what bounds it at corpus scale.
    assert(plan.contains("WindowGroupLimit"), s"group-limit pushdown expected:\n$plan")
  }

  test("recall (sum of returned cosines) is monotone in nProbe") {
    val idx = freshIndex()
    val queries = vectors.filter(col("vec_id") < 3)
    def score(nProbe: Int): Double = VectorIndex
      .query(spark, queries, idx, topK = 5, nProbe = nProbe)
      .agg(sum("cosine"))
      .collect()(0)
      .getDouble(0)
    val s1 = score(1)
    val s3 = score(3)
    assert(s3 >= s1 - 1e-12, s"probing more clusters must not lose neighbors: $s1 -> $s3")
  }

  test("k-means medoid quantizer: recall@10 at nProbe=1 meets or beats the id-rule seeds") {
    // NEUTRAL query ids: none is an id-rule centroid (vec_id % 100) and
    // none seeds the k-means run below. The previous query set (0..4)
    // contained id-rule centroid 0 AND was exactly the old first-k-ids
    // k-means seed set, so both recalls measured a query-is-centroid
    // artifact (a cell centered ON the query trivially holds its
    // neighbors) instead of quantizer quality.
    val queryIds = Seq(7L, 23L, 57L, 211L, 333L)
    val qs = vectors.filter(col("vec_id").isin(queryIds: _*))
    val e = vectors.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val q = e
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    val brute = broadcast(q)
      .join(e, expr("true"), "cross")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "vec_id")
    def recall(idx: String): Double = {
      val approx = VectorIndex.query(spark, qs, idx, topK = 10, nProbe = 1).select("query_id", "vec_id")
      approx.join(brute, Seq("query_id", "vec_id")).count().toDouble / brute.count()
    }
    val rDet = recall(freshIndex())
    val medoids = VectorIndex.kmeansMedoids(spark, vectors, k = 5, iters = 2)
    assert(medoids.size == 5 && medoids.distinct.size == 5, s"5 distinct medoids expected: $medoids")
    val p = Files.createTempDirectory("graft-vecindex-km").toString + "/ivf"
    VectorIndex.build(spark, vectors, p, isCentroid = col("vec_id").isin(medoids: _*))
    val rMed = recall(p)
    info(f"recall@10 nProbe=1 — id-rule seeds: $rDet%.3f, k-means medoids: $rMed%.3f")
    assert(rMed >= rDet, f"data-aware quantizer must not lose recall: $rMed%.3f < $rDet%.3f")
    assert(rMed > 0.3, f"medoid recall floor: $rMed%.3f")
  }

  test("kmeansMedoids returns min(k, corpus) distinct medoids even when Lloyd empties a cluster") {
    import spark.implicits._
    // Two distinct points, 20 rows, k=3: at least two seeds are
    // identical vectors, so min_by's tie-break starves one centroid of
    // members EVERY round — the shrink case. The reserve top-up must
    // keep the returned id count at k, deterministically.
    val rows = (0L until 20L).map(i => (i, if (i % 2 == 0) Seq(1.0, 0.0) else Seq(0.0, 1.0)))
    val df = rows.toDF("vec_id", "emb")
    val ms = VectorIndex.kmeansMedoids(spark, df, k = 3, iters = 2)
    assert(ms.size == 3 && ms.distinct.size == 3, s"3 distinct medoid ids expected: $ms")
    assert(ms == VectorIndex.kmeansMedoids(spark, df, k = 3, iters = 2), "deterministic under re-run")
    // Fewer corpus rows than k: min(k, corpus) is all of them.
    val tiny = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "emb")
    val tm = VectorIndex.kmeansMedoids(spark, tiny, k = 5, iters = 2)
    assert(tm == Seq(1L, 2L), s"min(k, corpus) medoids for a tiny corpus: $tm")
  }

  test("skew guard: build(maxOverMedian) splits the mega-cluster, probes stay exact") {
    import spark.implicits._
    // Three id-rule centroids: unit-x, unit-y, unit-z. Every member sits
    // within 0.15 rad of unit-x, so the unguarded index is one
    // ~297-member mega-cluster plus two singletons — every probe that
    // lands on it scans the whole corpus.
    def vec(theta: Double) = Seq(math.cos(theta), math.sin(theta), 0.0, 0.0)
    val rows = (1L to 299L)
      .filterNot(_ % 100 == 0)
      .map(i => (i, vec(0.15 * ((i * 37) % 997) / 997.0))) ++
      Seq((0L, vec(0.0)), (100L, Seq(0.0, 1.0, 0.0, 0.0)), (200L, Seq(0.0, 0.0, 1.0, 0.0)))
    val df = rows.toDF("vec_id", "emb")
    val p = Files.createTempDirectory("graft-vecindex-rb").toString + "/ivf"
    VectorIndex.build(spark, df, p, isCentroid = col("vec_id") % 100 === 0, maxOverMedian = Some(20.0))
    val stats = VectorIndex.clusterStats(spark, p).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.values.sum == df.count(), s"rebalance must not lose or duplicate vectors: $stats")
    assert(stats.size > 3, s"the mega-cluster must actually split: $stats")
    // median size pre-split is 1 (two singletons + mega), so cap = 20;
    // cosine Voronoi cells of hash-sampled seeds are not exactly even —
    // allow 3x, which still bounds probe candidates at ~cap, not ~n.
    assert(stats.values.max <= 60, s"probe candidates must be bounded after rebuild: $stats")
    // A full probe of the rebalanced index is still exactly brute force.
    val e = df.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val queryIds = Seq(7L, 23L, 200L)
    val got = VectorIndex
      .query(spark, df.filter(col("vec_id").isin(queryIds: _*)), p, topK = 5, nProbe = stats.size)
      .select("query_id", "vec_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val q = e
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    val want = broadcast(q)
      .join(e, expr("true"), "cross")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "vec_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(got == want, "full-probe after rebalance must be exact")
    // Fixed point: nothing is oversized any more, so a second pass is a no-op.
    assert(VectorIndex.rebalance(spark, p, 20.0) == 0, "second rebalance must be a no-op")
  }

  test("maintenance CLI verb rebalance_vector_index drives the same split") {
    import spark.implicits._
    def vec(theta: Double) = Seq(math.cos(theta), math.sin(theta), 0.0, 0.0)
    val rows = (1L to 299L)
      .filterNot(_ % 100 == 0)
      .map(i => (i, vec(0.15 * ((i * 37) % 997) / 997.0))) ++
      Seq((0L, vec(0.0)), (100L, Seq(0.0, 1.0, 0.0, 0.0)), (200L, Seq(0.0, 0.0, 1.0, 0.0)))
    val df = rows.toDF("vec_id", "emb")
    val p = Files.createTempDirectory("graft-vecindex-cli").toString + "/ivf"
    VectorIndex.build(spark, df, p, isCentroid = col("vec_id") % 100 === 0)
    val before = VectorIndex.clusterStats(spark, p).agg(max("n")).collect()(0).getLong(0)
    graft.pipeline.PipelineRunner.run(
      Array("--maintenance", "rebalance_vector_index", "--path", p, "--max_over_median", "20"),
      spark
    )
    val after = VectorIndex.clusterStats(spark, p).agg(max("n"), sum("n")).collect()(0)
    assert(after.getLong(0) <= 60 && after.getLong(0) < before, s"CLI must split the mega-cluster: $before -> ${after.getLong(0)}")
    assert(after.getLong(1) == df.count(), "no vectors lost through the CLI path")
  }

  test("probePairs finds indexed near-dups and excludes the batch's own ids") {
    import spark.implicits._
    val idx = freshIndex()
    val donor = vectors.filter(col("vec_id") === 7).select("emb").collect()(0).getSeq[Double](0)
    // A rescaled copy of vector 7: cosine exactly 1.0 with its donor.
    val copy = Seq((999999L, donor.map(_ * 2.0))).toDF("vec_id", "emb")
    val pairs = graft.operators.VectorIndex
      .probePairs(spark, copy, idx, minCosine = 0.9999)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((999999L, 7L)), s"copy must hit its donor: ${pairs.toSeq}")
    assert(math.abs(pairs(0)._3 - 1.0) < 1e-12, s"cosine of a rescaled copy is 1.0: ${pairs.toSeq}")
    // Replay shape: when the batch carries an already-indexed vec_id,
    // that id's own indexed row must be invisible as a candidate — the
    // probe sees exactly the PRE-batch index. With the donor in the
    // batch, the copy has no 0.9999-neighbor left.
    val replayBatch = Seq(
      (7L, donor),
      (999999L, donor.map(_ * 2.0))
    ).toDF("vec_id", "emb")
    val replayPairs = graft.operators.VectorIndex
      .probePairs(spark, replayBatch, idx, minCosine = 0.9999)
      .count()
    assert(replayPairs == 0, "batch ids must be excluded from the candidate side")
  }

  test("probePairs partition-prunes on an int-typed cluster column") {
    import spark.implicits._
    // Small synthetic index: hive partition-value inference types the
    // `cluster=` dirs as INT, so the typed-literal path (and the
    // probed-cluster collect) must handle a non-long partition column.
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = Seq((0L, vec(0)), (1L, vec(10)), (100L, vec(90)), (101L, vec(80))).toDF("vec_id", "emb")
    val p = Files.createTempDirectory("graft-probepairs-int").toString + "/ivf"
    graft.operators.VectorIndex.build(spark, base, p, isCentroid = col("vec_id") % 100 === 0)
    val ct = spark.read.parquet(s"$p/assignments").schema("cluster").dataType
    assert(ct == org.apache.spark.sql.types.IntegerType, s"fixture must exercise the int-typed path, got $ct")
    val batch = Seq((200L, vec(2))).toDF("vec_id", "emb")
    val pairs = graft.operators.VectorIndex.probePairs(spark, batch, p, minCosine = 0.99)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 200 at 2 deg: cos vs 0 deg = .9994, vs 10 deg = .9903 — both pass
    // 0.99; the strongest is chosen downstream, here both rows surface.
    assert(got == Set((200L, 0L), (200L, 1L)), s"got $got")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(
      plan.contains("PartitionFilters: [isnotnull(cluster"),
      s"assignments scan must carry a cluster partition filter:\n$plan"
    )
  }

  test("a centroid with an empty cluster dir (crash between rebalance writes) degrades gracefully") {
    import spark.implicits._
    // rebalance appends promoted centroids BEFORE touching assignment
    // dirs, so the observable crash state is a centroid whose cluster
    // dir does not exist yet. Every read path must stay correct: a
    // full-width probe is still exact, and append() can later create
    // the dir, making the centroid live.
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = Seq((0L, vec(0)), (1L, vec(10)), (100L, vec(90)), (101L, vec(80))).toDF("vec_id", "emb")
    val p = Files.createTempDirectory("graft-orphan-cent").toString + "/ivf"
    graft.operators.VectorIndex.build(spark, base, p, isCentroid = col("vec_id") % 100 === 0)
    // Orphan centroid at 45 deg — nearest for mid-angle queries — with
    // no cluster=500 dir anywhere.
    Seq((500L, vec(45), 1.0))
      .toDF("cent_id", "cent_emb", "cent_nrm")
      .write
      .mode("append")
      .parquet(s"$p/centroids")
    // nProbe over every centroid (incl. the orphan) is still exact.
    val got = graft.operators.VectorIndex
      .query(spark, Seq((1000L, vec(12))).toDF("vec_id", "emb"), p, topK = 2, nProbe = 3)
      .collect()
      .map(r => (r.getLong(2), r.getInt(3)))
      .toSet
    assert(got == Set((1L, 1), (0L, 2)), s"orphan centroid must not distort results: $got")
    // A probe that lands ONLY on the orphan returns empty — degraded
    // recall, never an error or a wrong row.
    val onlyOrphan = graft.operators.VectorIndex
      .query(spark, Seq((1001L, vec(45))).toDF("vec_id", "emb"), p, topK = 2, nProbe = 1)
    assert(onlyOrphan.count() == 0, "empty-cluster probe must return no rows")
    // append() then creates the dir: the orphan becomes a live cluster.
    graft.operators.VectorIndex.append(spark, Seq((501L, vec(44))).toDF("vec_id", "emb"), p)
    val revived = graft.operators.VectorIndex
      .query(spark, Seq((1001L, vec(45))).toDF("vec_id", "emb"), p, topK = 2, nProbe = 1)
      .collect()
      .map(_.getLong(2))
      .toSet
    assert(revived == Set(501L), s"recovered centroid must serve its appended member: $revived")
  }

  test("duplicate vec_ids within one build or batch collapse to a single index row") {
    import spark.implicits._
    // Producer retries can repeat an id INSIDE one delivery; the
    // one-row-per-vector invariant must hold at the assignment layer,
    // not rely on upstream hygiene.
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = Seq((0L, vec(0)), (0L, vec(0)), (1L, vec(10)), (100L, vec(90)))
      .toDF("vec_id", "emb")
    val p = Files.createTempDirectory("graft-dupid").toString + "/ivf"
    graft.operators.VectorIndex.build(spark, base, p, isCentroid = col("vec_id") % 100 === 0)
    val ids = spark.read.parquet(s"$p/assignments").select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(0L, 1L, 100L), s"build must collapse in-corpus duplicate ids: ${ids.toSeq}")
    graft.operators.VectorIndex
      .append(spark, Seq((7L, vec(20)), (7L, vec(20))).toDF("vec_id", "emb"), p)
    val n7 = spark.read.parquet(s"$p/assignments").filter(col("vec_id") === 7).count()
    assert(n7 == 1, s"append must collapse in-batch duplicate ids, got $n7 rows")
  }

  test("a zero-norm embedding fails loudly instead of landing in an unreachable cluster") {
    import spark.implicits._
    // All-NaN cosines would send the row to the -1 sentinel cluster —
    // indexed but invisible to every probe. That is silent data loss;
    // the assignment layer must reject it instead.
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val base = Seq((0L, vec(0)), (100L, vec(90))).toDF("vec_id", "emb")
    val p = Files.createTempDirectory("graft-zeronorm").toString + "/ivf"
    graft.operators.VectorIndex.build(spark, base, p, isCentroid = col("vec_id") % 100 === 0)
    val e = intercept[Exception] {
      graft.operators.VectorIndex
        .append(spark, Seq((9L, Seq(0.0, 0.0))).toDF("vec_id", "emb"), p)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(
      messages(e).exists(_.contains("zero-norm embedding vec_id=9")),
      s"expected the zero-norm rejection, got: $e"
    )
    assert(
      spark.read.parquet(s"$p/assignments").filter(col("vec_id") === 9).count() == 0,
      "the rejected vector must not be indexed"
    )
  }

  test("rebalance adopts centroids promoted by a crashed earlier attempt") {
    import spark.implicits._
    // Crash state: a prior rebalance appended promoted centroids and
    // died before the member rewrite — the promoted ids are centroids
    // whose vectors still sit inside the mega cluster. The retry must
    // re-seed them (adoption: their dirs get created) rather than
    // exclude them and leave member-less centroids behind.
    def vec(theta: Double) = Seq(math.cos(theta), math.sin(theta), 0.0, 0.0)
    val rows = (1L to 299L)
      .filterNot(_ % 100 == 0)
      .map(i => (i, vec(0.15 * ((i * 37) % 997) / 997.0))) ++
      Seq((0L, vec(0.0)), (100L, Seq(0.0, 1.0, 0.0, 0.0)), (200L, Seq(0.0, 0.0, 1.0, 0.0)))
    val df = rows.toDF("vec_id", "emb")
    val p = Files.createTempDirectory("graft-adopt").toString + "/ivf"
    graft.operators.VectorIndex.build(spark, df, p, isCentroid = col("vec_id") % 100 === 0)
    // Simulate the crashed attempt: member 7 was promoted to a
    // centroid, no member rewrite happened.
    val emb7 = rows.find(_._1 == 7L).get._2
    val nrm7 = math.sqrt(emb7.map(x => x * x).sum)
    Seq((7L, emb7, nrm7))
      .toDF("cent_id", "cent_emb", "cent_nrm")
      .write
      .mode("append")
      .parquet(s"$p/centroids")
    assert(graft.operators.VectorIndex.rebalance(spark, p, 20.0) >= 1, "mega cluster must split")
    val stats = graft.operators.VectorIndex
      .clusterStats(spark, p)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(stats.values.sum == df.count(), s"no vectors lost: $stats")
    assert(stats.contains(7L) && stats(7L) >= 1, s"the orphan centroid must be adopted: $stats")
    val centIds = spark.read.parquet(s"$p/centroids").select("cent_id").collect().map(_.getLong(0)).toSet
    val memberless = centIds.filterNot(stats.contains)
    assert(memberless.isEmpty, s"no member-less centroids may remain after the retry: $memberless")
  }

  test("append assigns against frozen centroids and is idempotent on replay") {
    import spark.implicits._
    val idx = freshIndex()
    val before = spark.read.parquet(s"$idx/assignments").count()
    // A new vector: the direction of an existing one, rescaled (same
    // cosine geometry, so it must land in that vector's cluster).
    val donor = vectors.filter(col("vec_id") === 7).select("emb").collect()(0).getSeq[Double](0)
    val batch = Seq((100000L, donor.map(_ * 2.0))).toDF("vec_id", "emb")
    VectorIndex.append(spark, batch, idx)
    VectorIndex.append(spark, batch, idx) // replay
    val asg = spark.read.parquet(s"$idx/assignments")
    assert(asg.count() == before + 1, "replayed append must not double-insert")
    val donorCluster =
      asg.filter(col("vec_id") === 7).select(col("cluster").cast("long")).collect()(0).getLong(0)
    val newCluster =
      asg.filter(col("vec_id") === 100000L).select(col("cluster").cast("long")).collect()(0).getLong(0)
    assert(newCluster == donorCluster, "scaled copy must join its donor's cluster")
    // and the appended vector is immediately searchable
    val hit = VectorIndex
      .query(spark, batch, idx, topK = 1, nProbe = 1)
      .collect()(0)
    assert(hit.getLong(2) == 7L, s"nearest neighbor of the scaled copy must be its donor, got $hit")
  }

  test("IVF writers are fenced; readers run under a live lease (nothing to heal, by design)") {
    import spark.implicits._
    val idx = freshIndex()
    val donor = vectors.filter(col("vec_id") === 7).select("emb").collect()(0).getSeq[Double](0)
    val batch = Seq((100001L, donor.map(_ * 3.0))).toDF("vec_id", "emb")
    // a successful append releases its lease
    VectorIndex.append(spark, batch, idx)
    assert(!new java.io.File(s"$idx.__writer").exists())
    // a live foreign lease (concurrent append/rebalance, or a crashed
    // one): append and rebalance refuse loudly — two appends sharing a
    // vec_id both pass the anti-join, and an append racing a
    // rebalance's cluster-dir deletes silently loses rows
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx.__writer"),
      graft.operators.DurableRoot.leaseBody("adhoc:ivf-append:someone-else"))
    val e = intercept[IllegalArgumentException](
      VectorIndex.append(spark, Seq((100002L, donor)).toDF("vec_id", "emb"), idx))
    assert(e.getMessage.contains("writer lease"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](VectorIndex.rebalance(spark, idx, 20.0))
    assert(e2.getMessage.contains("writer lease"), e2.getMessage)
    // READERS proceed under the same live lease: the index has no swap
    // protocol to strand (append-only writes; crash-ordered rebalance
    // keeps every crash point probeable), so there is no healing to
    // gate — the reader-side discipline holds vacuously
    assert(VectorIndex.clusterStats(spark, idx).count() > 0)
    assert(VectorIndex
      .query(spark, Seq((200L, donor.map(_ * 2.0))).toDF("vec_id", "emb"), idx, topK = 1, nProbe = 1)
      .count() == 1)
    // lease cleared: writers proceed again
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx.__writer"))
    VectorIndex.append(spark, Seq((100002L, donor)).toDF("vec_id", "emb"), idx)
    assert(!new java.io.File(s"$idx.__writer").exists())
  }
}

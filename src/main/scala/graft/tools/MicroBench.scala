package graft.tools

import graft.sources.Parquet

import org.apache.spark.sql.functions._

/** Microbenchmark: native codegen expressions vs the interpreted
  * higher-order-function forms they replace.
  * Usage: runMain graft.tools.MicroBench [sfDir]
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-microbench")

    val e = Parquet.read(spark, s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .crossJoin(spark.range(0, 50).toDF("rep"))
      .persist()
    e.count()

    def time(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[micro] $label%-28s $s%8.3f s")
      s
    }

    val hofDot = aggregate(
      zip_with(col("emb"), col("emb"), (x, y) => x * y),
      lit(0.0),
      (acc, v) => acc + v
    )
    val a = time("dot: HOF fold")(
      e.select(sum(hofDot)).collect()
    )
    val b = time("dot: graft_dot native")(
      e.select(sum(graft.functions.GraftFunctions.graft_dot(col("emb"), col("emb")))).collect()
    )

    val ints = e.withColumn("xs", transform(col("emb"), v => (abs(v) * 1e6).cast("long") % 268435456))
      .persist()
    ints.count()
    val p = lit(2147483647L)
    val hofMinhash = transform(
      sequence(lit(0), lit(15)),
      i => array_min(transform(col("xs"), x => ((i * 2 + 3) * x + i * 97 + 11) % p))
    )
    val c = time("minhash: HOF nested")(
      ints.select(sum(element_at(hofMinhash, 1))).collect()
    )
    val d = time("minhash: graft_minhash")(
      ints
        .select(sum(element_at(graft.functions.GraftFunctions.graft_minhash(col("xs"), 16), 1)))
        .collect()
    )

    def bitAt(h: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      floor(h / pow(lit(2.0), b)).cast("long") % 2
    val hofSimhash = aggregate(
      zip_with(
        transform(
          sequence(lit(0), lit(27)),
          bb =>
            when(
              aggregate(
                col("xs"),
                lit(0L),
                (acc, h) => acc + when(bitAt(h, bb) === 1, lit(1L)).otherwise(lit(-1L))
              ) > 0,
              lit(1L)
            ).otherwise(lit(0L))
        ),
        sequence(lit(0), lit(27)),
        (bit, i) => bit * pow(lit(2.0), i).cast("long")
      ),
      lit(0L),
      (acc, v) => acc + v
    )
    val g = time("simhash: HOF nested")(
      ints.select(sum(hofSimhash)).collect()
    )
    val h = time("simhash: graft_simhash")(
      ints.select(sum(graft.functions.GraftFunctions.graft_simhash(col("xs"), 28))).collect()
    )
    val hofL2 = aggregate(
      zip_with(col("emb"), col("emb2"), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, v) => acc + v
    )
    val e2 = e.withColumn("emb2", reverse(col("emb")))
    val i2 = time("l2: HOF fold")(
      e2.select(sum(hofL2)).collect()
    )
    val j2 = time("l2: graft_l2 native")(
      e2.select(sum(graft.functions.GraftFunctions.graft_l2(col("emb"), col("emb2")))).collect()
    )
    val docs = Parquet.read(spark, s"$dir/documents.parquet")
      .crossJoin(spark.range(0, 20).toDF("rep"))
      .persist()
    docs.count()
    val k1 = time("shingles: HOF chain")(
      graft.queries.TextQueries
        .withShinglesHof(docs)
        .select(sum(size(col("sh_ints"))))
        .collect()
    )
    val k2 = time("shingles: graft_shingles")(
      graft.queries.TextQueries
        .withShingles(docs)
        .select(sum(size(col("sh_ints"))))
        .collect()
    )
    println(
      f"[micro] speedup dot=${a / b}%.1fx minhash=${c / d}%.1fx simhash=${g / h}%.1fx l2=${i2 / j2}%.1fx shingles=${k1 / k2}%.1fx"
    )

    // Quantiles at UNBOUNDED value cardinality (every row distinct):
    // the regime where the exact histogram trick degrades to a
    // full sort and a mergeable sketch is the only O(state) plan.
    val vals = spark
      .range(0, 20000000)
      .select(
        (col("id") % 8).cast("string").as("g"),
        (sin(col("id").cast("double")) * 1e9).as("v")
      )
      .persist()
    vals.count()
    val s1 = time("quantile: exact sort")(
      vals
        .withColumn(
          "rn",
          row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("g")).orderBy(col("v"))
          )
        )
        .withColumn(
          "cnt",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("g")))
        )
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("g"), col("v"))
        .collect()
    )
    val s2 = time("quantile: approx_percentile")(
      vals.groupBy(col("g")).agg(percentile_approx(col("v"), lit(0.5), lit(10000))).collect()
    )
    val s3 = time("quantile: graft_tdigest")(
      vals
        .groupBy(col("g"))
        .agg(graft.functions.GraftFunctions.graft_tdigest(col("v"), Seq(0.5)))
        .collect()
    )
    println(f"[micro] quantile speedup vs sort: approx=${s1 / s2}%.1fx tdigest=${s1 / s3}%.1fx")

    // BPE apply: the regexp_replace-per-merge fold vs the one-node
    // native expression, at a small and a production-shaped merge
    // count. The fold's cost is per-PLAN (merge-count-deep tree:
    // analysis + codegen) and per-ROW (O(merges × len) regex scans);
    // the native loop is merge-count-flat on both axes. At ~1k merges
    // the fold typically cannot even plan (StackOverflowError in the
    // recursive ColumnNode→Expression conversion) — recorded as such.
    // The sf documents table's vocabulary is too small to sustain a
    // production-shaped table (fully merges in <100 rounds), so the
    // micro trains on a synthetic 5k-word corpus that holds ~1k merges.
    val rndBpe = new scala.util.Random(20260814L)
    val bpeWords = Vector.fill(5000)(
      (0 until (8 + rndBpe.nextInt(24))).map(_ => ('a' + rndBpe.nextInt(6)).toChar).mkString
    )
    import spark.implicits._
    val docsBpe = bpeWords.grouped(10).map(_.mkString(" ")).toSeq.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // Trainer-path A/B: the auto-selected driver path vs the forced
    // distributed loop, identical merge tables (spec-proved; spot
    // re-asserted here). The distributed loop pays one Spark job per
    // round — its cost is scheduler overhead times merges — so it is
    // A/B'd at 200 rounds and read per-round; the driver path is also
    // timed at the full 1k.
    var mergesAll: Seq[(String, String)] = Seq.empty
    val tDrv1k = time("bpe train: driver @1000") {
      mergesAll = graft.operators.Bpe.learnMerges(docsBpe, "text", 1000).map(m => (m.lhs, m.rhs))
    }
    var drv200: Seq[(String, String)] = Seq.empty
    val tDrv200 = time("bpe train: driver @200") {
      drv200 = graft.operators.Bpe.learnMerges(docsBpe, "text", 200).map(m => (m.lhs, m.rhs))
    }
    var dist200: Seq[(String, String)] = Seq.empty
    val tDist200 = time("bpe train: distributed @200") {
      dist200 = graft.operators.Bpe
        .learnMerges(docsBpe, "text", 200, driverMaxChars = 0L)
        .map(m => (m.lhs, m.rhs))
    }
    require(drv200 == dist200, "trainer paths must produce identical merge tables")
    println(
      f"[micro] bpe train speedup @200: ${tDist200 / tDrv200}%.1fx " +
        f"(distributed ${tDist200 / 200 * 1000}%.0f ms/round - a 50k-merge vocab extrapolates to " +
        f"${tDist200 / 200 * 50000 / 60}%.0f min of scheduler overhead; driver @1000: $tDrv1k%.3f s)"
    )
    println(s"[micro] bpe: trained ${mergesAll.length} merges")
    val words = graft.operators.Bpe
      .wordHistogram(docsBpe, "text")
      .select(col("sym"))
      .crossJoin(spark.range(0, 200).toDF("rep"))
      .persist()
    words.count()
    val f256 = time("bpe apply: fold @256")(
      words
        .select(sum(length(graft.operators.Bpe.applyMergesFold(col("sym"), mergesAll.take(256)))))
        .collect()
    )
    val n256 = time("bpe apply: native @256")(
      words
        .select(sum(length(graft.operators.Bpe.applyMerges(col("sym"), mergesAll.take(256)))))
        .collect()
    )
    val f1k: Option[Double] =
      try
        Some(
          time(s"bpe apply: fold @${mergesAll.length}")(
            words
              .select(sum(length(graft.operators.Bpe.applyMergesFold(col("sym"), mergesAll))))
              .collect()
          )
        )
      catch {
        case _: StackOverflowError =>
          println(s"[micro] bpe apply: fold @${mergesAll.length}   StackOverflowError (cannot plan)")
          None
      }
    val n1k = time(s"bpe apply: native @${mergesAll.length}")(
      words
        .select(sum(length(graft.operators.Bpe.applyMerges(col("sym"), mergesAll))))
        .collect()
    )
    println(
      f"[micro] bpe apply speedup: @256=${f256 / n256}%.1fx " +
        f"@${mergesAll.length}=${f1k.map(v => f"${v / n1k}%.1fx").getOrElse("fold unplannable")} " +
        f"(native @256→@${mergesAll.length} ratio ${n1k / n256}%.2f — merge-count-flat)"
    )
    spark.stop()
  }
}

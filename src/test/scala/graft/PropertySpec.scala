package graft

import graft.transforms.Transforms
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Property-based invariants from SURVEY §5.3, driven by generated log
  * events: users-table grain, time-table functional dependency, and
  * songplays row preservation.
  */
class PropertySpec extends AnyFunSuite {

  /** Manual property driver (the scalatest/scalacheck bridge isn't in
    * the offline cache): run the block over 10 seeded samples.
    */
  private def forAllSamples[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 10).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  lazy val spark: SparkSession = GraftSession
    .builder("graft-prop-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val schema = graft.schemas.Schemas.logData

  private def mkRow(
      user: String,
      ts: Double,
      page: String,
      level: String
  ): Row =
    Row(
      null, "auth", s"F$user", "F", 1, s"L$user", null, level, "loc", "PUT",
      page, null, 1, null, 200, ts, "UA", user
    )

  private val eventGen: Gen[(String, Double, String, String)] = for {
    user <- Gen.oneOf("1", "2", "3", "4", "5", "")
    tsOff <- Gen.choose(0L, 100L)
    page <- Gen.frequency(8 -> Gen.const("NextSong"), 2 -> Gen.const("Home"))
    level <- Gen.oneOf("free", "paid")
  } yield (user, 1.5423e12 + tsOff * 1000.0, page, level)

  test("users table: one user_id per group modulo max-ts ties; level from a max-ts row") {
    forAllSamples(Gen.listOfN(60, eventGen)) { evs =>
      val rows = evs.map { case (u, ts, p, l) => mkRow(u, ts, p, l) }
      val df = spark.createDataFrame(rows.asJava, schema)
      val next = Transforms.nextSongEvents(df)
      val users = Transforms.usersTable(next).collect()
      val byUser = users.groupBy(_.getAs[String]("user_id"))
      // no empty/null users
      assert(!byUser.keySet.exists(u => u == null || u.isEmpty))
      val nextRows = next.collect()
      byUser.foreach { case (u, rs) =>
        val userEvents = nextRows.filter(_.getAs[String]("userId") == u)
        val maxTs = userEvents.map(_.getAs[Double]("ts")).max
        val tieCount = userEvents.count(_.getAs[Double]("ts") == maxTs)
        assert(rs.length == tieCount, s"user $u keeps exactly the max-ts ties")
        val levelsAtMax = userEvents
          .filter(_.getAs[Double]("ts") == maxTs)
          .map(_.getAs[String]("level"))
          .toSet
        assert(rs.forall(r => levelsAtMax.contains(r.getAs[String]("level"))))
      }
    }
  }

  test("time table: distinct start_time; dims are pure functions of it") {
    forAllSamples(Gen.listOfN(40, eventGen)) { evs =>
      val rows = evs.map { case (u, ts, p, l) => mkRow(u, ts, p, l) }
      val df = spark.createDataFrame(rows.asJava, schema)
      val time = Transforms.timeTable(Transforms.withStartTime(Transforms.nextSongEvents(df)))
      val collected = time.collect()
      val starts = collected.map(_.getAs[java.sql.Timestamp]("start_time"))
      assert(starts.length == starts.distinct.length, "distinct start_time")
      collected.foreach { r =>
        val st = r.getAs[java.sql.Timestamp]("start_time").toInstant.atZone(java.time.ZoneOffset.UTC)
        assert(r.getAs[Int]("hour") == st.getHour)
        assert(r.getAs[Int]("day") == st.getDayOfMonth)
        assert(r.getAs[Int]("month") == st.getMonthValue)
        assert(r.getAs[Int]("year") == st.getYear)
      }
    }
  }

  test("songplays: row count equals NextSong event count (left joins drop nothing)") {
    forAllSamples(Gen.listOfN(50, eventGen)) { evs =>
      val rows = evs.map { case (u, ts, p, l) => mkRow(u, ts, p, l) }
      val df = spark.createDataFrame(rows.asJava, schema)
      val next = Transforms.withStartTime(Transforms.nextSongEvents(df))
      val emptySongs = spark.createDataFrame(
        java.util.List.of[Row](),
        StructType(
          Seq(
            StructField("song_id", StringType),
            StructField("title", StringType),
            StructField("artist_id", StringType),
            StructField("year", IntegerType),
            StructField("duration", DoubleType)
          )
        )
      )
      val emptyArtists = spark.createDataFrame(
        java.util.List.of[Row](),
        StructType(
          Seq(
            StructField("artist_id", StringType),
            StructField("name", StringType),
            StructField("location", StringType),
            StructField("latitude", StringType),
            StructField("longitude", StringType)
          )
        )
      )
      val time = Transforms.timeTable(next)
      val sp = Transforms.songplaysTable(next, emptySongs, emptyArtists, time)
      assert(sp.count() == next.count())
    }
  }

  test("graft_shingles equals the HOF chain on random token arrays (incl. unicode)") {
    import spark.implicits._
    val tokenGen = Gen.oneOf(
      Gen.alphaNumStr.suchThat(_.nonEmpty),
      Gen.oneOf("naïve", "日本語", "Ω≈ç√", "a-b_c.d", "x", "the")
    )
    val docGen = for {
      n <- Gen.choose(0, 40)
      ts <- Gen.listOfN(n, tokenGen)
    } yield ts.mkString(" ")
    forAllSamples(Gen.listOfN(20, docGen)) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "sh_ints")
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
          .toMap
      val native = rows(queries.TextQueries.withShingles(d))
      val hof = rows(queries.TextQueries.withShinglesHof(d))
      assert(native == hof, "native and HOF shingles must agree exactly")
    }
  }

  test("probePairs matches a reference cluster-blocked scan; ingest replay is a fixed point") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Random 3-dim grid vectors (no zero vectors — a zero norm makes
    // cosine NaN, which is a data-contract violation, not a case the
    // operator defines). Even ids form the index (ids % 4 == 0 are the
    // centroids), odd ids arrive as the ingest batch.
    val compGen = Gen.choose(-4, 4).map(_ / 2.0)
    val vecGen = Gen.listOfN(3, compGen).suchThat(_.exists(_ != 0.0))
    val corpusGen = for {
      n <- Gen.choose(8, 20)
      vs <- Gen.listOfN(n, vecGen)
      minCos <- Gen.oneOf(0.3, 0.7, 0.9)
    } yield (vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, minCos)

    def dotRef(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def nrmRef(a: Seq[Double]): Double = math.sqrt(dotRef(a, a))

    forAllSamples(corpusGen) { case (corpus, minCos) =>
      val base = corpus.filter(_._1 % 2 == 0)
      val batch = corpus.filter(_._1 % 2 == 1)
      val cents = base.filter(_._1 % 4 == 0)
      def assign(v: Seq[Double]): Long =
        cents
          .map { case (cid, cv) => (dotRef(v, cv) / (nrmRef(v) * nrmRef(cv)), cid) }
          .sortBy { case (cos, cid) => (-cos, cid) }
          .head
          ._2
      // Reference: every indexed vector in the batch vector's assigned
      // cluster at cosine >= minCos (batch ids excluded by id split).
      val want = (for {
        (bid, bv) <- batch
        (iid, iv) <- base
        if assign(iv) == assign(bv)
        cos = dotRef(bv, iv) / (nrmRef(bv) * nrmRef(iv))
        if cos >= minCos
      } yield (bid, iid, cos)).toSet

      val root = java.nio.file.Files.createTempDirectory("graft-prop-ivf").toString
      val idx = s"$root/ivf"
      graft.operators.VectorIndex
        .build(spark, base.toDF("vec_id", "emb"), idx, isCentroid = col("vec_id") % 4 === 0)
      val got = graft.operators.VectorIndex
        .probePairs(spark, batch.toDF("vec_id", "emb"), idx, minCos)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == want, s"probePairs must equal the reference scan (minCos=$minCos):\n got=$got\nwant=$want")

      // Replay fixed point: applying the same ingest batch twice leaves
      // index assignments, telemetry, and the accepted count unchanged.
      def indexRows: Set[(Long, Long)] =
        spark.read
          .parquet(s"$idx/assignments")
          .select(col("vec_id"), col("cluster").cast("long"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
      def dropRows: Set[(Long, Long, Double)] =
        spark.read
          .parquet(s"$root/drops/ingest_batch=0")
          .select("vec_id", "dup_of", "cosine")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      val n1 = graft.streaming.StreamingPipeline
        .semanticDedupIngestBatch(spark, batch.toDF("vec_id", "emb"), idx, s"$root/drops", 0L, minCos)
      val (i1, d1) = (indexRows, dropRows)
      val n2 = graft.streaming.StreamingPipeline
        .semanticDedupIngestBatch(spark, batch.toDF("vec_id", "emb"), idx, s"$root/drops", 0L, minCos)
      assert(n2 == n1, s"replay accepted count must match: $n1 vs $n2")
      assert(indexRows == i1, "replay must not change index assignments")
      assert(dropRows == d1, "replay must not change telemetry")
    }
  }

  test("zValue: equal iff quantized cells equal; bounded by 4^bits; corners map to extremes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bits = 6
    val pointGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(60, for {
        x <- Gen.choose(-5000L, 5000L)
        y <- Gen.choose(0L, 999L)
      } yield (x, y))
    forAllSamples(pointGen) { pts =>
      val df = pts.toDF("x", "y")
      val (xmn, xmx) = (pts.map(_._1).min, pts.map(_._1).max)
      val (ymn, ymx) = (pts.map(_._2).min, pts.map(_._2).max)
      val rows = df
        .select(
          col("x"),
          col("y"),
          operators.Maintenance
            .zValue(col("x"), col("y"), lit(xmn), lit(xmx), lit(ymn), lit(ymx), bits)
            .as("z")
        )
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def quant(v: Long, mn: Long, mx: Long): Long =
        (v - mn) * ((1L << bits) - 1) / math.max(1L, mx - mn)
      rows.foreach { case (x, y, z) =>
        assert(z >= 0 && z < (1L << (2 * bits)), s"z out of range: $z")
      }
      // z equality ⟺ quantized-cell equality (the clustering contract)
      rows.groupBy { case (x, y, _) => (quant(x, xmn, xmx), quant(y, ymn, ymx)) }.foreach {
        case (_, grp) => assert(grp.map(_._3).distinct.length == 1, "same cell, different z")
      }
      assert(
        rows.groupBy(_._3).forall { case (_, grp) =>
          grp.map { case (x, y, _) => (quant(x, xmn, xmx), quant(y, ymn, ymx)) }.distinct.length == 1
        },
        "same z, different cell"
      )
      // corner points occupy the extremes of the curve
      val zOf = rows.map { case (x, y, z) => (x, y) -> z }.toMap
      if (zOf.contains((xmn, ymn))) assert(zOf((xmn, ymn)) == 0L)
      if (zOf.contains((xmx, ymx))) assert(zOf((xmx, ymx)) == (1L << (2 * bits)) - 1)
    }
  }

  /** Brute-force reference for q101: 3-gram triples compared as token
    * tuples (no hashing — collision-free by construction), duplicated =
    * the triple occurs in ≥ 2 distinct docs, islands merged by a linear
    * scan. The engine's 28-bit + rolling hash is separately proved
    * bit-identical to the HOF chain; with a 5-token vocab (≤125 distinct
    * triples) hash collisions are not a factor.
    */
  private def refExtents(docs: Seq[(Long, String)]): Set[(Long, Int, Int, Long)] = {
    val grams = docs.flatMap { case (id, text) =>
      val t = text.split("\\s+").toSeq
      if (t.length < 3) Seq.empty
      else (0 to t.length - 3).map(p => (id, p, (t(p), t(p + 1), t(p + 2))))
    }
    val docsOfGram = grams.groupBy(_._3).map { case (g, rs) => g -> rs.map(_._1).toSet }
    grams
      .filter { case (_, _, g) => docsOfGram(g).size >= 2 }
      .groupBy(_._1)
      .flatMap { case (id, rs) =>
        val islands = rs.map(_._2).sorted.foldLeft(List.empty[(Int, Int)]) { (acc, p) =>
          acc match {
            case (s, e) :: rest if p == e + 1 => (s, p) :: rest
            case _ => (p, p) :: acc
          }
        }
        islands.map { case (s, e) => (id, s, e + 2, (e + 3 - s).toLong) }
      }
      .filter(_._4 >= 5)
      .toSet
  }

  test("q101 extents match the brute-force reference on random small-vocab corpora") {
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = for {
      n <- Gen.choose(0, 14)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val corpusGen = for {
      k <- Gen.choose(3, 7)
      texts <- Gen.listOfN(k, docGen)
    } yield texts
    forAllSamples(corpusGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val dir = java.nio.file.Files.createTempDirectory("graft-extprop").toString
      docs
        .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write
        .mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = queries.TextQueries
        .q101DupExtents(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(got == refExtents(docs), s"corpus=$texts")
    }
  }

  test("dup positions: the df-cap hot/cold split is exact at any cap") {
    // The high-df pre-flag must be a pure routing decision, never a
    // semantic one: with a tiny cap (df > 2 — most spans in a 5-token
    // vocabulary are hot) the hot path carries the bulk of the corpus,
    // and the result must still be IDENTICAL to the pure-window path
    // (cap = MaxValue), including the single-doc mega-repeat case where
    // a hot span is NOT a cross-doc duplicate.
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = for {
      n <- Gen.choose(0, 20)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val corpusGen = for {
      k <- Gen.choose(3, 7)
      texts <- Gen.listOfN(k, docGen)
    } yield texts
    forAllSamples(corpusGen) { texts =>
      // One doc is a mega-repeat of a single 3-gram: its span is hot at
      // any cap but must never be flagged (no OTHER doc holds it).
      val all = texts :+ Seq.fill(12)("z").mkString(" ")
      val d = all.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t) }
        .toDF("doc_id", "text")
      def posSet(cap: Int) = queries.TextQueries
        .dupPositionsOf(d, cap)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .toSet
      val capped = posSet(2)
      val pureWindow = posSet(Int.MaxValue)
      assert(capped == pureWindow, s"corpus=$all")
      assert(!capped.exists(_._1 == all.length.toLong), "mega-repeat doc must not self-dup")
    }
  }

  test("q104 cleaning equals the reference mask on random small-vocab corpora") {
    // Reference cleaner: mask every token covered by a >=5-token
    // reference extent, rejoin the rest — catches both the overlap
    // double-count trap and any extent/array-index off-by-one.
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = for {
      n <- Gen.choose(0, 14)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val corpusGen = for {
      k <- Gen.choose(3, 7)
      texts <- Gen.listOfN(k, docGen)
    } yield texts
    forAllSamples(corpusGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val dir = java.nio.file.Files.createTempDirectory("graft-cleanprop").toString
      docs
        .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write
        .mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val extByDoc = refExtents(docs).groupBy(_._1)
      val want = docs.map { case (id, t) =>
        val toks = t.split("\\s+").toSeq
        val covered = extByDoc
          .getOrElse(id, Set.empty)
          .flatMap { case (_, sp, ep, _) => sp to ep }
        val kept = toks.zipWithIndex.collect { case (tok, i) if !covered(i) => tok }
        id -> (covered.count(_ < toks.length).toLong, kept.mkString(" "))
      }.toMap
      val got = queries.TextQueries
        .q104SpanClean(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
      assert(got == want, s"corpus=$texts")
    }
  }

  test("incrementalDupSpans equals the full-recompute rule on random corpus splits") {
    // The incremental contract: probing the batch against the
    // prior-corpus span-hash state + the within-batch min!=max rule is
    // EXACTLY the one-shot rule over prior ∪ batch, restricted to the
    // batch's docs. Random small-vocab corpora make the cross/within
    // interactions dense.
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = for {
      n <- Gen.choose(0, 14)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val corpusGen = for {
      k <- Gen.choose(4, 8)
      texts <- Gen.listOfN(k, docGen)
      split <- Gen.choose(1, k - 1)
    } yield (texts, split)
    forAllSamples(corpusGen) { case (texts, split) =>
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val (base, batch) = docs.splitAt(split)
      val root = java.nio.file.Files.createTempDirectory("graft-spanprop").toString
      val state = s"$root/spans"
      // 4 buckets: small enough that random hashes collide per bucket,
      // exercising the partitioned fold's read-merge-swap on non-trivial
      // partitions.
      operators.Maintenance
        .incrementalDupSpans(
          spark, base.toDF("doc_id", "text"), "doc_id", "text", state, Some(0L),
          stateBuckets = 4
        )
      val inc = operators.Maintenance
        .incrementalDupSpans(spark, batch.toDF("doc_id", "text"), "doc_id", "text", state, Some(1L))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      val batchIds = batch.map(_._1).toSet
      assert(
        inc == refExtents(docs).filter(e => batchIds(e._1)),
        s"base=$base batch=$batch"
      )
      // Partition-fold ≡ full-fold at the STATE level too: the
      // incrementally folded state must equal a one-shot build over the
      // whole corpus.
      val oneShot = s"$root/oneshot"
      operators.Maintenance
        .incrementalDupSpans(
          spark, docs.toDF("doc_id", "text"), "doc_id", "text", oneShot, Some(0L),
          stateBuckets = 4
        )
      // Physical rows are per-segment partials under the append
      // protocol — equality is on the folded (merge-on-read) view.
      def rows(p: String) = operators.Maintenance
        .spanStateView(spark, p)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows(state) == rows(oneShot), s"state fold drift: base=$base batch=$batch")
    }
  }

  test("span-state re-shard preserves the view and the incremental rule on random corpora") {
    // A --buckets re-shard between two ingests must be invisible to
    // both the state's semantic view and the batch-extent rule: the
    // partition function changes, the content and probes must not.
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = for {
      n <- Gen.choose(0, 14)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val corpusGen = for {
      k <- Gen.choose(4, 8)
      texts <- Gen.listOfN(k, docGen)
      split <- Gen.choose(1, k - 1)
      nb2 <- Gen.oneOf(1, 2, 3, 5, 9)
    } yield (texts, split, nb2)
    forAllSamples(corpusGen) { case (texts, split, nb2) =>
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val (base, batch) = docs.splitAt(split)
      val root = java.nio.file.Files.createTempDirectory("graft-reshardprop").toString
      val state = s"$root/spans"
      def rows(p: String) = operators.Maintenance
        .spanStateView(spark, p)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      operators.Maintenance
        .incrementalDupSpans(
          spark, base.toDF("doc_id", "text"), "doc_id", "text", state, Some(0L),
          stateBuckets = 4
        )
      val viewBefore = rows(state)
      operators.Maintenance.compactSpanState(spark, state, newBuckets = Some(nb2))
      assert(rows(state) == viewBefore, s"re-shard to $nb2 changed the view: base=$base")
      val inc = operators.Maintenance
        .incrementalDupSpans(spark, batch.toDF("doc_id", "text"), "doc_id", "text", state, Some(1L))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      val batchIds = batch.map(_._1).toSet
      assert(
        inc == refExtents(docs).filter(e => batchIds(e._1)),
        s"post-reshard incremental rule drift: base=$base batch=$batch nb2=$nb2"
      )
    }
  }

  test("ingest-index self-compaction never changes accepted sets on random batch sequences") {
    // Aggressive compaction (threshold 2 — triggering on almost every
    // batch) must be invisible to the dedup semantics: the accepted
    // corpus equals an uncompacted replica's on any batch sequence.
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c")
    val textGen = for {
      n <- Gen.choose(1, 4)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val seqGen = for {
      nb <- Gen.choose(5, 7)
      batches <- Gen.listOfN(nb, Gen.listOfN(3, textGen))
    } yield batches
    forAllSamples(seqGen) { batches =>
      val root = java.nio.file.Files.createTempDirectory("graft-idxprop").toString
      def corpusSet(p: String) = spark.read
        .parquet(p)
        .select("doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSet
      batches.zipWithIndex.foreach { case (texts, i) =>
        val df = texts.zipWithIndex
          .map { case (t, j) => (i * 100L + j, t) }
          .toDF("doc_id", "text")
        val nA = streaming.StreamingPipeline
          .dedupIngestBatch(spark, df, s"$root/a/corpus", s"$root/a/index", i.toLong, maxIndexParts = 2)
        val nB = streaming.StreamingPipeline
          .dedupIngestBatch(spark, df, s"$root/b/corpus", s"$root/b/index", i.toLong, maxIndexParts = 64)
        assert(nA == nB, s"accept count drift at batch $i on $batches")
      }
      assert(
        corpusSet(s"$root/a/corpus") == corpusSet(s"$root/b/corpus"),
        s"compaction changed the accepted corpus on $batches"
      )
      val partsA = new java.io.File(s"$root/a/index")
        .listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      assert(partsA <= 3, s"threshold-2 index must stay bounded, got $partsA")
    }
  }

  test("flat-index tiering never changes accepted sets on random batch sequences") {
    // tierIndexFiles at threshold 2 (merging on almost every batch)
    // must be invisible to incrementalDedup's semantics: per-batch
    // accepted sets and the final hash set equal an untiered replica's
    // on any batch sequence, and the file count stays bounded.
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "c")
    val textGen = for {
      n <- Gen.choose(1, 4)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val seqGen = for {
      nb <- Gen.choose(5, 7)
      batches <- Gen.listOfN(nb, Gen.listOfN(3, textGen))
    } yield batches
    forAllSamples(seqGen) { batches =>
      val root = java.nio.file.Files.createTempDirectory("graft-tierprop").toString
      batches.zipWithIndex.foreach { case (texts, i) =>
        val df = texts.zipWithIndex
          .map { case (t, j) => (i * 100L + j, t) }
          .toDF("doc_id", "text")
        val accA = operators.Maintenance
          .incrementalDedup(spark, df, "doc_id", "text", s"$root/a", maxIndexFiles = 2)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val accB = operators.Maintenance
          .incrementalDedup(spark, df, "doc_id", "text", s"$root/b", maxIndexFiles = 0)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(accA == accB, s"accepted-set drift at batch $i on $batches")
      }
      def hashes(p: String) =
        spark.read.parquet(p).distinct().collect().map(_.getString(0)).toSet
      assert(hashes(s"$root/a") == hashes(s"$root/b"), s"index set drift on $batches")
      val files = new java.io.File(s"$root/a").listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 3, s"threshold-2 index must stay bounded, got $files")
    }
  }

  test("curateIngest on a first batch equals curateCorpus on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Small alphabet + duplicated texts: plenty of cross-doc spans,
    // exact dups, and gate-threshold variety. The anchor claim is that
    // the incremental composition (frozen self-model gate → span clean
    // vs empty state → floor → first-batch dedup) IS the batch rule.
    val tokGen = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val docGen = for {
      n <- Gen.choose(0, 16)
      ts <- Gen.listOfN(n, tokGen)
    } yield ts.mkString(" ")
    val corpusGen = for {
      k <- Gen.choose(5, 9)
      texts <- Gen.listOfN(k, docGen)
      dupOf <- Gen.choose(0, k - 1) // force one exact duplicate
    } yield texts :+ texts(dupOf)
    forAllSamples(corpusGen) { texts =>
      val root = java.nio.file.Files.createTempDirectory("graft-curprop").toString
      val docs = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t, "en", "s") }
      docs
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write
        .parquet(s"$root/documents.parquet")
      val d = spark.read.parquet(s"$root/documents.parquet").select("doc_id", "text")
      operators.QualityModel.build(spark, d, "doc_id", "text", s"$root/lm")
      val (_, nInc) = pipeline.Pipeline
        .curateIngest(spark, d, s"$root/lm", s"$root/spans", s"$root/index", s"$root/out", 0L)
      val (_, nBatch) = pipeline.Pipeline.curateCorpus(spark, root, s"$root/curated", shards = 2)
      def keyset(p: String) = spark.read
        .parquet(p)
        .select("doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSet
      assert(nInc == nBatch, s"counts drift on $texts: $nInc vs $nBatch")
      if (nBatch > 0L)
        assert(
          keyset(s"$root/out/ingest_batch=0") == keyset(s"$root/curated"),
          s"survivor drift on $texts"
        )
    }
  }

  test("q110 packing manifest tiles the token stream exactly") {
    // The concat-then-chunk contract: doc offsets are contiguous in the
    // (shard, h, doc_id) order with no gaps or overlaps, the stream's
    // total length is the sum of doc lengths, and every doc's pack
    // range is exactly the budget-chunk interval its offsets dictate.
    val B = 2048L
    val rows = graft.queries.TextQueries
      .q110SequencePacking(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r =>
        (
          r.getAs[Long]("start_tok"),
          r.getAs[Long]("n_toks"),
          r.getAs[Long]("first_pack"),
          r.getAs[Long]("last_pack"),
          r.getAs[Long]("n_packs")
        )
      )
      .sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.head._1 == 0L, "stream starts at offset 0")
    rows.sliding(2).foreach {
      case Array((s1, n1, _, _, _), (s2, _, _, _, _)) =>
        assert(s2 == s1 + n1, s"gap/overlap at offset $s2 (prev $s1+$n1)")
      case _ => ()
    }
    rows.foreach { case (s, n, fp, lp, np) =>
      assert(n >= 1L, "whitespace split yields at least one token")
      assert(fp == s / B, s"first_pack: $fp vs ${s / B}")
      assert(lp == (s + n - 1) / B, s"last_pack: $lp vs ${(s + n - 1) / B}")
      assert(np == lp - fp + 1)
    }
  }

  test("q113 stratified packing tiles each source's stream independently") {
    val bySource = graft.queries.TextQueries
      .q113MixturePacking(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("start_tok"), r.getAs[Long]("n_toks")))
      .groupBy(_._1)
    assert(bySource.size > 1, "fixture must have several sources")
    for ((src, rows) <- bySource) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"source $src must start its own stream at 0")
      sorted.sliding(2).foreach {
        case Array((_, s1, n1), (_, s2, _)) =>
          assert(s2 == s1 + n1, s"gap/overlap inside source $src at $s2")
        case _ => ()
      }
    }
  }

  test("boundaries + epochOrder invariants hold on random corpora and budgets") {
    import graft.operators.Packing
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 3) {
      val nDocs = 20 + rnd.nextInt(60)
      val budget = Seq(8L, 16L, 64L)(trial % 3)
      val docs = (0 until nDocs)
        .map(i => (i.toLong, (0 to rnd.nextInt(12)).map(j => s"t${i}_$j").mkString(" ")))
        .toDF("doc_id", "text")
      val man = Packing.manifest(
        Packing.layout(docs, "doc_id", "text", nShards = 4),
        "doc_id",
        budget
      )
      val total = man.agg(sum(col("n_toks"))).head.getLong(0)
      val nPacks = (total + budget - 1) / budget
      // boundaries: Σ seg_len per pack = budget (except the ragged
      // last), Σ over the table = total tokens, every doc starts once.
      val b = Packing
        .boundaries(man, "doc_id", budget)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      assert(b.map(_._3).sum == total, s"trial $trial: boundary table must cover every token")
      b.groupBy(_._1).foreach { case (p, segs) =>
        val want = if (p == nPacks - 1 && total % budget != 0) total % budget else budget
        assert(segs.map(_._3).sum == want, s"trial $trial pack $p coverage")
      }
      assert(b.count(_._5 == 1) == nDocs, s"trial $trial: one doc_start per doc")
      // epochOrder: a permutation per epoch for any budget/seed.
      val sched = Packing
        .epochOrder(man, epochs = 2, seed = s"t$trial")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      (0 until 2).foreach { e =>
        val rows = sched.filter(_._1 == e.toLong)
        assert(rows.map(_._2).sorted.toSeq == (0L until nPacks), s"trial $trial epoch $e ords")
        assert(rows.map(_._3).sorted.toSeq == (0L until nPacks), s"trial $trial epoch $e packs")
      }
    }
  }

  test("resume/efficiency/apportion invariants hold on random corpora, budgets, and weights") {
    import graft.operators.Packing
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 3) {
      val nDocs = 20 + rnd.nextInt(60)
      val budget = Seq(8L, 16L, 64L)(trial % 3)
      val docs = (0 until nDocs)
        .map(i =>
          (i.toLong, s"s${i % 4}", (0 to rnd.nextInt(12)).map(j => s"t${i}_$j").mkString(" "))
        )
        .toDF("doc_id", "source", "text")
      // resumeSlice: for a random (step, batch), the slice is EXACTLY
      // the epoch-major suffix of the flattened schedule.
      val man = Packing.manifest(
        Packing.layout(docs, "doc_id", "text", nShards = 4),
        "doc_id",
        budget
      )
      val epochs = 2
      val sched = Packing.epochOrder(man, epochs, seed = s"r$trial")
      val flat = sched
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      val total = flat.length.toLong
      val batch = 1L + rnd.nextInt(7)
      val step = rnd.nextLong(total / batch + 1)
      val got = Packing
        .resumeSlice(sched, step, batch)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._4)
      val want = flat.zipWithIndex
        .drop((step * batch).toInt)
        .map { case ((e, o, p), i) => (e, o, p, i.toLong) }
      assert(got.toSeq == want.toSeq, s"trial $trial step=$step batch=$batch")
      // packEfficiency: per group, waste in [0, budget) and totals
      // reconcile with the layout.
      val lay = Packing.layoutBy(docs, "doc_id", "text", "source", nShards = 4)
      val eff = Packing
        .packEfficiency(lay, budget, Seq("source"))
        .collect()
        .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      val totByGroup = lay
        .groupBy("source")
        .agg(sum("n_toks"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      eff.foreach { case (g, tot, nPacks, waste) =>
        assert(tot == totByGroup(g) && waste >= 0 && waste < budget, s"trial $trial group $g")
        assert(nPacks * budget - tot == waste, s"trial $trial group $g arithmetic")
      }
      // apportionBudget: random weights -> exact sum, every quota
      // within 1 of its real share.
      val nG = 3 + rnd.nextInt(8)
      val weights =
        (0 until nG).map(i => (s"g$i", 1L + rnd.nextLong(1000000L))).toDF("g", "w")
      val bud = 1L + rnd.nextLong(10000000L)
      val q = Packing
        .apportionBudget(weights, "g", "w", bud)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      assert(q.map(_._2).sum == bud, s"trial $trial: sum != budget")
      val tw = q.map(w => BigInt(w._1)).sum
      q.foreach { case (w, quota) =>
        val lo = (BigInt(bud) * w / tw).toLong
        assert(quota == lo || quota == lo + 1, s"trial $trial: quota $quota off share $lo")
      }
    }
  }

  test("native BPE apply equals the reference fold under ARBITRARY merge tables (randomized)") {
    // The native expression must reproduce the training-order fold for
    // ANY table, not just trained ones: random tables here mix
    // realizable merges, never-firing merges, duplicates, and
    // deliberately out-of-order entries whose later merges re-create
    // earlier pairs' strings (the case where GPT-2-style
    // lowest-rank-present application diverges from the fold).
    def refFold(word: String, merges: Seq[(String, String)]): String =
      merges
        .foldLeft(word.toVector.map(_.toString)) { case (seq, (l, r)) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < seq.length) {
            if (j + 1 < seq.length && seq(j) == l && seq(j + 1) == r) { out += (l + r); j += 2 }
            else { out += seq(j); j += 1 }
          }
          out.result()
        }
        .mkString("|", "||", "|")
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 8) {
      val alpha = "abcd".take(2 + rnd.nextInt(3))
      def randSym(maxLen: Int): String =
        (0 until (1 + rnd.nextInt(maxLen))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val merges = Vector.fill(30 + rnd.nextInt(40))((randSym(3), randSym(3)))
      val words = Vector
        .fill(60)((0 until (1 + rnd.nextInt(14))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
        .distinct
      val df = words
        .map(w => (w, w.toVector.map(_.toString).mkString("|", "||", "|")))
        .toDF("word", "sym")
      val got = df
        .select(
          org.apache.spark.sql.functions.col("word"),
          graft.operators.Bpe
            .applyMerges(org.apache.spark.sql.functions.col("sym"), merges)
            .as("out")
        )
        .collect()
        .map(r => (r.getString(0), r.getString(1)))
        .toMap
      words.foreach { w =>
        assert(got(w) == refFold(w, merges), s"trial $trial word '$w' table $merges")
      }
    }
  }

  test("leakageFreeSplit equals a union-find reference on random pair graphs") {
    // Connected components is load-bearing for q36 and q141: prove the
    // distributed min-label propagation against a driver-side
    // union-find on arbitrary random graphs (chains, stars, cliques
    // arise by chance across trials), then prove the split is
    // cluster-atomic under those labels.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 0 until 3) {
      val n = 60 + rnd.nextInt(140)
      val nEdges = rnd.nextInt(n)
      val edges = Vector.fill(nEdges) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      // Driver-side union-find with min-id representatives.
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      val wantComp = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val docs = (0L until n.toLong).toDF("doc_id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
        else edges.toDF("doc_a", "doc_b")
      val got = graft.operators.Dedup
        .leakageFreeSplit(docs, pairs, "doc_id", heldoutPerMille = 250, seed = s"uf$trial")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
      assert(got.size == n, s"trial $trial: not total")
      (0L until n.toLong).foreach { id =>
        assert(got(id)._1 == wantComp(id), s"trial $trial doc $id comp ${got(id)._1} != ${wantComp(id)}")
      }
      // Cluster atomicity under the verified labels.
      edges.foreach { case (a, b) =>
        assert(got(a)._2 == got(b)._2, s"trial $trial pair ($a,$b) straddles")
      }
    }
  }

  test("lengthGroupedBatches equals the reference sort-and-cut on random keyed rows") {
    import spark.implicits._
    val gen: Gen[Seq[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(
        n,
        for {
          c <- Gen.choose(0L, 9L)
          t <- Gen.choose(0L, 999L)
          len <- Gen.choose(0L, 40L) // heavy ties by design
        } yield (c, t, len)
      )
    } yield rows.map(r => (r._1, r._2)).distinct.map { k =>
      rows.find(r => (r._1, r._2) == k).get
    }
    forAllSamples(gen) { rows =>
      val batchSize = 1 + (rows.size % 7)
      val got = graft.operators.Packing
        .lengthGroupedBatches(
          rows.toDF("conv_id", "parent_id", "total_toks"),
          Seq("conv_id", "parent_id"),
          "total_toks",
          batchSize
        )
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(3), r.getLong(4))))
        .toMap
      val want = rows
        .sortBy(r => (r._3, r._1, r._2))
        .zipWithIndex
        .map { case ((c, p, _), i) =>
          ((c, p), (i.toLong / batchSize, i.toLong % batchSize))
        }
        .toMap
      assert(got == want, s"batchSize=$batchSize diverges from the reference sort-and-cut")
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.normalize.Normalize
import graft.operators.Indicators

/** Property-based checks (SURVEY §5 item 2) — ScalaCheck over the engine
  * operators, evaluated through real Spark plans (one small job per
  * sample; sample count tuned down accordingly).
  */
object EngineProps extends Properties("engine") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  import scala.jdk.CollectionConverters._

  private def seriesDf(xs: List[Double]): DataFrame = {
    val rows = xs.zipWithIndex.map { case (x, i) =>
      org.apache.spark.sql.Row("K", i.toLong, x)
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sym",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("close",
          org.apache.spark.sql.types.DoubleType))))
  }

  private val priceGen = Gen.chooseNum(0.01, 10000.0)
  private val seriesGen = Gen.nonEmptyListOf(priceGen).map(_.take(60))

  // junk-corrupted numeric strings: digits with commas/spaces/NBSP interleaved
  private val junkGen: Gen[(Long, String)] = for {
    n <- Gen.chooseNum(0L, 999999999999L)
    junk <- Gen.listOf(Gen.oneOf(",", " ", " ", "")).map(_.mkString)
  } yield (n, n.toString.flatMap(c => c.toString + junk))

  property("toLongCol is total on comma/space/NBSP-corrupted numerics") =
    forAll(Gen.nonEmptyListOf(junkGen).map(_.take(30))) { cases =>
      import spark.implicits._
      val got = cases.map(_._2).toDF("s")
        .select(Normalize.toLongCol(col("s")).as("v"))
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      got.zip(cases.map(_._1)).forall { case (g, expect) => g.contains(expect) }
    }

  property("RSI stays in [0,100]") = forAll(seriesGen) { xs =>
    val df = Indicators.withRsi(seriesDf(xs), "close", 14, Seq("sym"), Seq(col("t")))
    df.where(col("rsi") < 0 || col("rsi") > 100).count() == 0L
  }

  property("EMA lies between running min and max of the series prefix") =
    forAll(seriesGen) { xs =>
      val df = Indicators.withEmaClosedForm(seriesDf(xs), "close", 10,
        Seq("sym"), Seq(col("t")))
      val got = df.orderBy("t").select("ema").collect().map(_.getDouble(0))
      val eps = 1e-6
      got.zipWithIndex.forall { case (e, i) =>
        val prefix = xs.take(i + 1)
        e >= prefix.min - eps && e <= prefix.max + eps
      }
    }

  property("change telescopes: sum(change) == last - first") =
    forAll(seriesGen.suchThat(_.size >= 2)) { xs =>
      val df = Indicators.withChange(seriesDf(xs), "close", Seq("sym"), Seq(col("t")))
      val s = df.agg(sum("change")).head().getDouble(0)
      math.abs(s - (xs.last - xs.head)) < 1e-6 * math.max(1.0, math.abs(xs.last))
    }

  property("asofJoin preserves left cardinality and never time-travels") =
    forAll(Gen.chooseNum(1, 30), Gen.chooseNum(1, 30)) { (nl, nr) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("k", StringType),
        StructField("t", LongType), StructField("v", DoubleType)))
      def mk(n: Int, off: Int) = spark.createDataFrame(
        (0 until n).map(i => Row(if (i % 2 == 0) "A" else "B",
          (i * 7 + off).toLong, i.toDouble)).asJava, schema)
      val left = mk(nl, 3)
      val right = mk(nr, 0).withColumnRenamed("t", "rt").withColumnRenamed("v", "rv")
      val out = graft.operators.AsOfJoin.asofJoin(
        left, right, Seq("k"), "t", "rt", Seq("rt", "rv"))
      val rows = out.collect()
      rows.length == nl && rows.forall { r =>
        r.isNullAt(r.fieldIndex("rt")) ||
          r.getLong(r.fieldIndex("rt")) <= r.getLong(r.fieldIndex("t"))
      }
    }

  property("dropDuplicates is idempotent") = forAll(seriesGen) { xs =>
    val df = seriesDf(xs ++ xs) // force duplicates
    val once = df.dropDuplicates()
    once.count() == once.dropDuplicates().count()
  }

  property("top-k desc equals reverse of bottom-k asc on distinct keys") =
    forAll(Gen.chooseNum(1, 20)) { k =>
      val df = seriesDf((1 to 40).map(_.toDouble).toList)
      val top = df.orderBy(col("t").desc).limit(k).collect().map(_.getLong(1)).toList
      val bottom = df.orderBy(col("t").asc).limit(40).collect().map(_.getLong(1))
        .toList.reverse.take(k)
      top == bottom
    }

  private val docGen: Gen[String] = Gen.nonEmptyListOf(
    Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"))
    .map(_.take(40).mkString(" "))

  private def docsDf(texts: List[String]): DataFrame = {
    val rows = texts.zipWithIndex.map { case (t, i) =>
      org.apache.spark.sql.Row(i.toLong, t)
    }
    spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
  }

  property("identical docs always collide in MinHash LSH with est 1.0") =
    forAll(docGen, Gen.chooseNum(2, 4)) { (text, copies) =>
      val long = (text + " ").repeat(3).trim // ensure >= shingle length
      val dup = List.fill(copies)(long)
      val pairs = graft.functions.Dedup.minhashPairs(
        docsDf(dup), "doc_id", "text", shingleN = 2, k = 16, bands = 4)
        .collect()
      pairs.length == copies * (copies - 1) / 2 &&
        pairs.forall(_.getDouble(2) == 1.0)
    }

  property("simhash of identical docs is equal; hamming(x,x)=0") =
    forAll(docGen) { text =>
      import spark.implicits._
      val h = graft.functions.Dedup.simhash(
        docsDf(List(text, text)), "doc_id", "text")
        .select("simhash").as[Long].collect()
      h.length == 2 && h(0) == h(1) &&
        graft.functions.Md5Long60.hash60(text.getBytes) >= 0
    }

  property("est_jaccard is within the k-granularity grid [0,1]") =
    forAll(Gen.nonEmptyListOf(docGen).map(_.take(6))) { texts =>
      val pairs = graft.functions.Dedup.minhashPairs(
        docsDf(texts.map(t => (t + " ").repeat(2).trim)), "doc_id", "text",
        shingleN = 2, k = 16, bands = 4, threshold = 0.0)
        .collect()
      pairs.forall { r =>
        val e = r.getDouble(2)
        e >= 0.0 && e <= 1.0 && math.abs(e * 16 - math.round(e * 16)) < 1e-9
      }
    }

  property("chunking covers every token in order, with the stride overlap") =
    forAll(Gen.chooseNum(1, 200)) { nTokens =>
      val text = (0 until nTokens).map(i => s"w$i").mkString(" ")
      val chunks = graft.queries.CurationQueries.chunksOf(docsDf(List(text)))
        .orderBy("chunk_idx").collect()
        .map(_.getAs[String]("chunk_text").split(" ").toSeq)
      // concatenating each chunk's non-overlapped prefix (stride tokens)
      // plus the last chunk's tail reconstructs the document exactly
      val rebuilt = chunks.init.flatMap(_.take(30)) ++ chunks.last
      rebuilt.toSeq == (0 until nTokens).map(i => s"w$i") &&
        chunks.forall(_.size <= 40)
    }

  property("tokenBudget two-level prefix sum equals the naive global window") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1, 9)).map(_.take(25)),
           Gen.chooseNum(20L, 200L)) { (reps, budget) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val stop = "the a of and to in is"
      val docs = reps.zipWithIndex.map { case (r, i) =>
        (i.toLong, (s"some words $stop number $i " * r).trim)
      }.toDF("doc_id", "text")
      val naive = docs.select(col("doc_id"),
          graft.functions.TextAnalysis.qualityScore(col("text"),
            Seq("the", "a", "of", "and", "to", "in", "is")).as("quality"),
          graft.functions.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(
          Window.orderBy(col("quality").desc, col("doc_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("cum_tokens") <= budget)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      val got = graft.queries.CurationQueries.tokenBudgetOf(docs, budget)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      got == naive
    }

  property("decomposed per-language percent_rank equals the window spelling") =
    forAll(Gen.nonEmptyListOf(Gen.zip(docGen, Gen.oneOf("en", "es", "vi")))
        .map(_.take(24))) { rows =>
      // random quality ties (docGen's tiny vocab collides often) and
      // skewed language histograms: the bucketed row_number + offsets
      // decomposition must match percent_rank bit-for-bit
      val docs = spark.createDataFrame(
        rows.zipWithIndex.map { case ((t, l), i) =>
          org.apache.spark.sql.Row(i.toLong, t, l)
        }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType))))
      def canon(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
      val dec = canon(graft.queries.CurationQueries.qualityTopPOf(docs))
      val win = canon(graft.queries.CurationQueries.qualityTopPWindowed(docs))
      spark.catalog.clearCache()
      dec == win
    }

  property("star CC production convergence equals exact mode on random graphs") =
    forAll(Gen.nonEmptyListOf(
        Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L))).map(_.take(20))) { es =>
      // random multigraphs over 16 vertices: self-loops, duplicate and
      // reversed edges, chains, cliques — the fingerprint-gated
      // heuristic must emit the identical component map
      import spark.implicits._
      val pairs = es.toDF("doc_a", "doc_b")
      val exact = graft.functions.Dedup.connectedComponentsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prod = graft.functions.Dedup.connectedComponentsStar(pairs,
          exactConvergence = false)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      prod == exact
    }

  property("incremental dedup: empty seen == plain dedup; self-seen == empty") =
    forAll(Gen.nonEmptyListOf(docGen).map(_.take(12))) { texts =>
      val docs = docsDf(texts)
      val a = graft.functions.Dedup.dedupNewRows(docs, docs.limit(0), "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      val b = graft.functions.Dedup.dedupKeepRows(docs, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      val c = graft.functions.Dedup.dedupNewRows(docs, docs, "doc_id", "text").count()
      a == b && c == 0
    }

  property("two-corpus decontamination equals the single-corpus twin") =
    forAll(Gen.nonEmptyListOf(docGen).map(_.take(20))) { texts =>
      // decontaminateOf buckets the SAME corpus by hash; feeding the
      // bucket split through the two-input production API must agree
      // exactly (the split commutes with shingling) — including when
      // the bench bucket lands empty
      val docs = docsDf(texts.map(t => (t + " ").repeat(2).trim))
      val bucket = graft.functions.TextAnalysis.hashBucket(col("doc_id"), 16)
      val one = graft.queries.CurationQueries.decontaminateOf(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val two = graft.queries.CurationQueries.decontaminateAgainst(
          docs.where(bucket =!= 15), docs.where(bucket === 15))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.catalog.clearCache() // decontaminateOf's documented contract
      one == two
    }

  property("mixPlan: shares sum to 1, rates capped at 1, no source starved") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(1, 40)).map(_.take(5))) { sizes =>
      import spark.implicits._
      val docs = sizes.zipWithIndex.flatMap { case (n, s) =>
        (0 until n).map(i => (s * 1000L + i, ("w " * (i % 7 + 1)).trim, s"src$s"))
      }.toDF("doc_id", "text", "source")
      val rows = graft.queries.CurationQueries.mixPlanOf(docs).collect()
      val shares = rows.map(_.getAs[Double]("token_share"))
      val rates = rows.map(_.getAs[Double]("sampling_rate"))
      rows.length == sizes.length &&
        math.abs(shares.sum - 1.0) < 1e-9 &&
        rates.forall(r => r > 0.0 && r <= 1.0)
    }

  // pure-JVM bloom property. NOTE: the object-wide minSuccessfulTests(8)
  // cap applies here too, so each SAMPLE sweeps every k in 1..5 over its
  // whole key set — 8 samples × 5 k-values × ≤500 keys of structural
  // coverage, not 8 single-(keys,k) cases
  property("bloom never reports an inserted key absent") =
    forAll(Gen.nonEmptyListOf(Gen.long).map(_.take(500))) { keys =>
      (1 to 5).forall { k =>
        val words = new Array[Long](64)
        keys.foreach(graft.functions.Bloom.setBits(words, _, k))
        keys.forall(graft.functions.Bloom.mightContain(words, _, k))
      }
    }

  // random corpora from a 5-line alphabet so cross-doc collisions are
  // dense; the reference is the direct spelling of the contract
  private val linesGen: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf("aaa", "bbb", "ccc", "ddd", "eee")).map(_.take(5))
  property("lineDedup equals the brute-force reference on random corpora") =
    forAll(Gen.nonEmptyListOf(linesGen).map(_.take(8)),
           Gen.chooseNum(2, 4)) { (corpus, minDocs) =>
      import spark.implicits._
      val df = corpus.zipWithIndex
        .map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
        .toDF("doc_id", "text")
      val got = graft.functions.Dedup.lineDedup(df, "doc_id", "text", minDocs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val nDocsByLine = corpus.zipWithIndex
        .flatMap { case (ls, i) => ls.distinct.map(_ -> i) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val hot = nDocsByLine.filter(_._2 >= minDocs).keySet
      val expect = corpus.zipWithIndex.flatMap { case (ls, i) =>
        val kept = ls.filterNot(hot)
        if (kept.isEmpty) None
        else Some((i.toLong, kept.mkString("\n"), kept.size.toLong))
      }.toSet
      got == expect
    }

  // the stored-BM25 pruning contract rests on the driver-computed
  // bucket of a literal term agreeing BIT-IDENTICALLY with the Spark
  // expression that partitioned the storage — for ANY token, not just
  // ASCII fixtures (md5 over UTF-8 bytes both sides)
  private val tokenGen: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf('é', 'ß', '中', '€', '-', '_', '.'))
  ).map(_.mkString.take(24))
  property("tokenBucketLocal equals the storage-side tokenBucket for any token") =
    forAll(Gen.nonEmptyListOf(tokenGen).map(_.take(16))) { toks =>
      import spark.implicits._
      import graft.streaming.PostingsIndex
      val got = toks.toDF("token")
        .select(col("token"), PostingsIndex.tokenBucket(col("token")).as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      toks.forall(t => got(t) == PostingsIndex.tokenBucketLocal(t))
    }

  // SQ8 quantization error bound: for any vector, the reconstruction
  // scale·code differs from each raw component by at most scale/2 (the
  // half-up rounding radius) — the property that makes 8-bit scoring
  // near-exact, checked through the real engine expressions
  private val vecGen = Gen.nonEmptyListOf(Gen.chooseNum(-100.0, 100.0))
    .map(_.take(16))
  property("SQ8 codes reconstruct every component within scale/2") =
    forAll(vecGen) { xs =>
      val rows = java.util.List.of(
        org.apache.spark.sql.Row(1L, xs.map(_.toFloat).toArray.toSeq))
      val df = spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
      val dir = java.nio.file.Files.createTempDirectory("sq-prop").toString
      graft.functions.Similarity.sqWriteArtifacts(df, "vec_id", "embedding", dir)
      val r = spark.read.parquet(s"$dir/codes").head()
      val s = r.getDouble(1)
      val codes = r.getSeq[Byte](2)
      val raw = xs.map(_.toFloat.toDouble)
      if (s == 0) raw.forall(_ == 0.0)
      else raw.zip(codes).forall { case (x, c) =>
        math.abs(x - s * c) <= s / 2 + 1e-12 && math.abs(c.toInt) <= 127
      }
    }

  // the candidate-proportional rerank shortlist: monotone in corpus,
  // nprobe, and k; never below 4k; exactly candidates/4 once past the
  // floor — the SCALE.md `ann_recall` tuning rule as an algebraic property
  property("rerankShortlist is monotone with a 4k floor") =
    forAll(Gen.chooseNum(0L, 10000000L), Gen.chooseNum(1, 64),
      Gen.chooseNum(1, 64), Gen.chooseNum(1, 100)) { (n, nlist, nprobe, k) =>
      val sl = graft.functions.Similarity.rerankShortlist(n, nlist, nprobe, k)
      val more = graft.functions.Similarity.rerankShortlist(n + 100000, nlist, nprobe, k)
      sl >= 4 * k && sl >= k && more >= sl
    }

  // headerless-DIB wrap: stripping the BITMAPFILEHEADER from any
  // generated BMP and re-wrapping must decode to the identical pixels
  private val rgbGen = Gen.chooseNum(0, 0xFFFFFF)
  property("wrapDibFrame inverts a stripped BITMAPFILEHEADER for any frame") =
    forAll(Gen.chooseNum(1, 12), Gen.chooseNum(1, 9), rgbGen, rgbGen) {
      (w, h, c0, c1) =>
        import graft.functions.Multimodal
        val bmp = Multimodal.minimalBmp(w, h)((x, y) =>
          if ((x + y) % 2 == 0) c0 else c1)
        val dib = java.util.Arrays.copyOfRange(bmp, 14, bmp.length)
        // decodeImage returns an Array field — compare field-wise
        val Some((w1, h1, ch1, m1)) =
          Multimodal.decodeImage(Multimodal.wrapDibFrame(dib))
        val Some((w2, h2, ch2, m2)) = Multimodal.decodeImage(bmp)
        w1 == w2 && h1 == h2 && ch1 == ch2 && m1.sameElements(m2)
    }
}

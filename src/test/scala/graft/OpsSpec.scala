package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("minhash LSH band cap drops saturated buckets but keeps multi-band near-dups") {
    import spark.implicits._
    // 80 docs share a LONG common prefix (its shingles dominate every
    // doc's minimum -> one saturated band bucket), each with a unique
    // tail; plus one planted near-dup pair with fully distinct text
    val prefix = (0 until 100).map(i => s"common$i").mkString(" ")
    val crowd = (0 until 80).map(i => (i.toLong, s"$prefix tail$i" + ("x" * 30)))
    val nearA = (900L, "zebra quartz jolt vexing mamba kudzu plinth oryx glyph njord" * 4)
    val nearB = (901L, "zebra quartz jolt vexing mamba kudzu plinth oryx glyph njorD" * 4)
    val docs = (crowd :+ nearA :+ nearB).toDF("id", "text")
    val uncapped = graft.ops.Dedup.minhashLshPairs(docs, "id", "text",
      shingleLen = 5, k = 32, bands = 8, threshold = 0.5)
    val capped = graft.ops.Dedup.minhashLshPairs(docs, "id", "text",
      shingleLen = 5, k = 32, bands = 8, threshold = 0.5,
      maxBandFrequency = Some(20))
    val un = uncapped.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cp = capped.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the crowd saturates its shared buckets -> the cap prunes them
    assert(un.count { case (a, b) => a < 80 && b < 80 } > 100,
      s"the crowd must collide heavily uncapped: ${un.size}")
    assert(cp.count { case (a, b) => a < 80 && b < 80 } <
      un.count { case (a, b) => a < 80 && b < 80 },
      "the cap must prune saturated-bucket candidates")
    // the planted near-dup pair agrees on many unsaturated bands -> kept
    assert(cp.contains((900L, 901L)),
      s"near-dup pair must survive the cap: $cp")
    // and capping only ever REMOVES pairs (it cannot invent candidates)
    assert(cp.subsetOf(un))
  }

  test("exact dedup keeps every group's min id as survivor") {
    import spark.implicits._
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa")).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").collect().map(r =>
      (r.getLong(0), r.getLong(2), r.getBoolean(3))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, true), (2L, 1L, true), (3L, 3L, false), (4L, 3L, false)))
  }

  test("minhash est_jaccard ≈ exact jaccard on planted near-dups") {
    val exact = Dedup.ngramJaccardPairs(Tables.documents(spark, sf), "doc_id", "text",
      n = 3, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    val est = Dedup.minhashLshPairs(Tables.documents(spark, sf), "doc_id", "text",
      threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every very-high-jaccard pair must be caught by minhash LSH
    assert(exact.subsetOf(est), s"missed: ${exact -- est}")
  }

  test("n-gram df-cap drops hot-shingle candidate pairs, keeps rare-shingle pairs intact") {
    import spark.implicits._
    // h1..h4 share ONLY the hot trigram "the common phrase" (df=4);
    // a1/a2 are true near-dups sharing many rare trigrams (df=2)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (11L, "u1 u2 the common phrase u3"),
      (12L, "v1 v2 the common phrase v3"),
      (13L, "w1 w2 the common phrase w3"),
      (14L, "x1 x2 the common phrase x3")).toDF("id", "text")
    def pairs(cap: Option[Int]) =
      Dedup.ngramJaccardPairs(docs, "id", "text", n = 3, threshold = 0.1,
        maxDocFrequency = cap).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = pairs(None)
    val capped = pairs(Some(3))
    // uncapped: the hot shingle generates all 6 h-pairs plus the real pair
    assert(uncapped.keySet.count { case (a, _) => a >= 11L } == 6)
    assert(uncapped.contains((1L, 2L)))
    // capped: hot-shingle-only pairs vanish; the rare-shingle pair survives
    // with its EXACT jaccard (set sizes stay uncapped)
    assert(capped.keySet == Set((1L, 2L)))
    assert(capped((1L, 2L)) == uncapped((1L, 2L)))
  }

  test("k=64 minhash preset keeps recall on planted near-dups with sharper estimates") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val k64 = Dedup.minhashLshPairsPreset(docs, "doc_id", "text", Dedup.PresetK64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(k64), s"k=64 preset missed: ${exact -- k64}")
  }

  test("simhash of identical text is identical; hamming to itself is 0") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "entirely different words here")).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("LSH top-k results are a subset of brute-force candidates with decent recall") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(q, e, "vec_id", "embedding", 5, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    // uniform random embeddings have no cluster structure, so hyperplane
    // recall is intrinsically modest at 16 buckets — sanity-check only
    assert(recall > 0.05, s"LSH recall too low: $recall")
    // and every LSH hit must score at least as well as the worst brute hit for that query
    assert(lsh.nonEmpty)
  }

  test("language id picks the language with most stopword hits") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "der hund ist nicht in der küche und das ist gut"),
      (3L, "xyzzy qwerty asdf")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.languageId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "und")
  }

  test("fingerprint is order- and duplicate-insensitive") {
    import spark.implicits._
    val df = Seq((1L, "b a c a"), (2L, "a b c"), (3L, "c b a a a b")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps.distinct.length == 1)
  }

  test("multimodal roundtrip: payload bytes preserved, byte features bounded and deterministic") {
    val assets = Multimodal.toAssets(Tables.documents(spark, sf), "doc_id", "text", "source")
    assert(assets.schema("payload").dataType == org.apache.spark.sql.types.BinaryType)
    // metadata n_bytes equals the byte length recomputed from the payload
    assert(assets.filter(
      col("meta.n_bytes") =!= length(col("payload")).cast("long")).count() == 0)
    val feats = assets.select(col("asset_id"),
      Multimodal.byteFeatures(col("payload")).as("f"))
    // ascii() yields full code points, so values are >= 0 but can exceed
    // 1.0 on non-ASCII leading chars — only the lower bound is invariant
    val bad = feats.filter(size(col("f")) =!= 4 ||
      exists(col("f"), v => v < 0.0)).count()
    assert(bad == 0, "byte features must be 4 non-negative values")
    // codegen column expression is deterministic across evaluations
    assert(feats.orderBy("asset_id").collect().map(_.toString).toSeq ==
      feats.orderBy("asset_id").collect().map(_.toString).toSeq)
  }

  test("embedding near-dup: identical vectors pair at cosine 1, orthogonal vectors never pair") {
    import spark.implicits._
    val e1 = Array.tabulate(64)(i => if (i < 32) 1.0f else 0.0f)
    val e2 = e1.clone()
    val e3 = Array.tabulate(64)(i => if (i >= 32) 1.0f else 0.0f) // orthogonal to e1
    val df = Seq((1L, e1), (2L, e2), (3L, e3)).toDF("id", "embedding")
    val pairs = graft.ops.Similarity.embeddingDupPairs(df, "id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"only the identical pair survives: $pairs")
  }

  test("text quality and token counting: degenerate text scores below clean prose") {
    import spark.implicits._
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and keeps running today."),
      (2L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
      (3L, "")).toDF("id", "text")
    val scored = df.select(col("id"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.tokenCount(col("text")).as("n_ws"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2), r.getInt(3))).toMap
    assert(scored(1L)._1 > scored(2L)._1, "punctuation soup must score below prose")
    assert(scored(1L)._2 == 13)
    assert(scored(3L)._2 == 0 && scored(3L)._3 == 0)
    // BPE-ish count at least the whitespace count on real text
    assert(scored(1L)._3 >= scored(1L)._2)
  }

  test("real image decode: javax.imageio reads generated PNG dims; corrupt/non-image degrade to null") {
    import spark.implicits._
    val docs = Seq(0L, 1L, 5L, 107L).toDF("doc_id")
    val assets = Multimodal.toImageAssets(docs, "doc_id")
    // the generated payloads are REAL PNGs (magic bytes)
    val firstBytes = assets.orderBy("asset_id").select("payload").head().getAs[Array[Byte]](0)
    assert(firstBytes.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val decoded = Multimodal.decodeImagesBatched(assets, batchSize = 2)
      .orderBy("asset_id").collect()
    decoded.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(2) == 16 + (id % 8).toInt, s"width of $id")
      assert(r.getInt(3) == 8 + (id % 4).toInt, s"height of $id")
      assert(r.getString(4) == "png")
    }
    // corrupt payload and non-image media type both yield null dims
    val weird = Seq(
      (900L, "image/png", "garbage".getBytes),
      (901L, "text/plain", "hello".getBytes))
      .toDF("asset_id", "media_type", "payload")
    val wd = Multimodal.decodeImagesBatched(weird).orderBy("asset_id").collect()
    assert(wd.forall(r => r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)))
    assert(wd.map(_.getLong(1)).toSeq == Seq(7L, 5L)) // n_bytes still reported
  }

  test("connectedComponents: chains merge, clusters stay separate, long chains converge") {
    import spark.implicits._
    // cluster {1,2,3,4} built from a chain, cluster {10,11}, and a
    // 21-node chain 100..120 that exercises path halving (plain
    // propagation would need 20 rounds; halving needs ~5)
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)) ++
      (100L until 120L).map(i => (i, i + 1))).toDF("a", "b")
    val comp = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert((100L to 120L).forall(comp(_) == 100L))
    // nodes outside the edge list are absent (callers coalesce singletons)
    assert(!comp.contains(5L))
    // empty edge list → empty output, no iteration blowup
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").isEmpty)
  }

  test("deterministic sampling: nested fractions, exact quotas, stable across runs") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf)
    val s10 = Sampling.deterministicSample(docs, "doc_id", 0.10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s25 = Sampling.deterministicSample(docs, "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s10.subsetOf(s25), "samples must nest across fractions")
    assert(s10.nonEmpty && s25.size < docs.count())
    // re-run is bit-stable (pure function of ids, no RNG state)
    val again = Sampling.deterministicSample(docs, "doc_id", 0.10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == s10)

    val quota = Sampling.stratifiedQuota(docs, "lang", "doc_id", quota = 5)
    val perLang = quota.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.values.forall(_ <= 5))
    val langsWithEnough = docs.groupBy("lang").count()
      .filter(col("count") >= 5).count()
    assert(perLang.count(_._2 == 5L) == langsWithEnough,
      "every stratum with >= quota rows must fill its quota exactly")
  }

  test("packSequences: two-level prefix sum equals a single global cumsum") {
    import spark.implicits._
    import graft.ops.Packing
    val rnd = new scala.util.Random(7)
    val docs = (0L until 3000L).map(i => (i, 1L + rnd.nextInt(400).toLong))
      .toDF("doc_id", "n_tokens")
    val budget = 2048L
    // tiny buckets force many level-1 partitions + a real level-2 window
    val packed = Packing.packSequences(docs, "doc_id", "n_tokens",
      budget, bucketWidth = 64L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    // reference: plain sequential scan over one collected copy
    val tok = docs.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    var cum = 0L
    val ref = tok.map { case (i, t) =>
      val start = cum; cum += t
      (i, t, start / budget, start % budget)
    }.toSeq
    assert(packed.sortBy(_._1).toSeq == ref, "two-level must equal sequential")

    // loader-facing invariants: every doc packed once; sequences contiguous;
    // each sequence's tokens within budget + (maxdoc - 1) overflow
    val maxDoc = packed.map(_._2).max
    val bySeq = packed.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(packed.map(_._1).distinct.length == 3000)
    assert(bySeq.keySet == (0L to bySeq.keySet.max).toSet, "no sequence gaps")
    assert(bySeq.values.forall(_ <= budget + maxDoc - 1))
    // all but the last window start full (a doc crosses every boundary)
    val lastSeq = bySeq.keySet.max
    assert(bySeq.filter(_._1 < lastSeq).values.forall(_ >= budget - maxDoc + 1))
  }

  test("shardAssign: hash-order sequential reference, balanced mass, all shards present") {
    import spark.implicits._
    import graft.ops.Packing
    val rnd = new scala.util.Random(11)
    val docs = (0L until 2000L).map(i => (i, 1L + rnd.nextInt(300).toLong))
      .toDF("doc_id", "n_tokens")
    val nShards = 8
    val out = Packing.shardAssign(docs, "doc_id", "n_tokens", nShards,
      hashBuckets = 64).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("shard_id"), r.getAs[Long]("shard_offset")))

    // reference: sequential scan in md5-hash order (the op's contract)
    def hk(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16).toDouble / (1L << 28).toDouble
    }
    val seq = docs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (i, _) => (hk(i), i) }
    val total = seq.map(_._2).sum
    val ssz = math.max((total + nShards - 1) / nShards, 1L)
    var cum = 0L
    val ref = seq.map { case (i, t) =>
      val start = cum; cum += t
      val sid = math.min(start / ssz, (nShards - 1).toLong)
      (i, t, sid, start - sid * ssz)
    }.sortBy(_._1).toSeq
    assert(out.sortBy(_._1).toSeq == ref, "two-level must equal hash-order scan")

    // balance: every shard within one max-doc of the ideal size
    val maxDoc = out.map(_._2).max
    val byShard = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(byShard.keySet == (0L until nShards.toLong).toSet, "every shard used")
    assert(byShard.values.forall(m => m <= ssz + maxDoc - 1),
      s"shard overflow past one doc: $byShard (ssz=$ssz)")
    // zero-token docs and empty input degrade cleanly
    val z = Packing.shardAssign(Seq((1L, 0L), (2L, 5L)).toDF("doc_id", "n_tokens"),
      "doc_id", "n_tokens", 4).collect()
    assert(z.length == 2)
    assert(Packing.shardAssign(Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens"),
      "doc_id", "n_tokens", 4).count() == 0)
    // NULL token counts carry no mass to place: they pass through with
    // NULL shard columns (the bucketedBatches contract) and must not
    // poison the prefix sums of the placeable rows (r12 ADVICE)
    val withNull = Packing.shardAssign(
      Seq((1L, Some(5L)), (2L, Option.empty[Long]), (3L, Some(5L)))
        .toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[Any]("shard_id")), Option(r.getAs[Any]("shard_offset")))).toMap
    assert(withNull.size == 3)
    assert(withNull(2L) == (None, None), s"NULL-token doc must carry NULL shard: $withNull")
    assert(withNull(1L)._1.isDefined && withNull(3L)._1.isDefined,
      s"placeable docs must still shard: $withNull")
    // string-typed token counts (CSV ingest): valid values shard through
    // the cast split; malformed values fail LOUD under this engine's
    // ANSI casts rather than silently parking in the last shard — and
    // the passthrough split keys on the CAST result so a null-producing
    // cast (non-ANSI deployments, try_cast semantics) degrades to the
    // NULL contract, never to a misplaced row (r13 review)
    val strTyped = Packing.shardAssign(
      Seq((1L, "5"), (2L, null.asInstanceOf[String]), (3L, "7"))
        .toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> Option(r.getAs[Any]("shard_id"))).toMap
    assert(strTyped(2L).isEmpty && strTyped(1L).isDefined && strTyped(3L).isDefined,
      strTyped.toString)
    val eCast = intercept[Exception](Packing.shardAssign(
      Seq((1L, "5"), (2L, "n/a")).toDF("doc_id", "n_tokens"),
      "doc_id", "n_tokens", 2).collect())
    assert(eCast.getMessage.contains("CAST_INVALID_INPUT") ||
      Option(eCast.getCause).exists(_.getMessage.contains("CAST_INVALID_INPUT")),
      eCast.toString)
  }

  test("bucketedBatches: two-level positions equal per-bucket hash-order scan; batches full and tight") {
    import spark.implicits._
    import graft.ops.Packing
    val rnd = new scala.util.Random(23)
    val docs = (0L until 1500L).map(i => (i, 1L + rnd.nextInt(200).toLong))
      .toDF("doc_id", "n_tokens")
    val out = Packing.bucketedBatches(docs, "doc_id", "n_tokens",
      bucketWidth = 32L, batchSize = 16, hashBuckets = 64).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("length_bucket"), r.getAs[Long]("batch_id"),
        r.getAs[Long]("batch_pos")))

    def hk(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16).toDouble / (1L << 28).toDouble
    }
    val ref = docs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2 / 32).toSeq.flatMap { case (bucket, ds) =>
        ds.sortBy { case (i, _) => (hk(i), i) }.zipWithIndex.map {
          case ((i, t), pos) =>
            (i, t, bucket, pos.toLong / 16, pos.toLong % 16)
        }
      }.sortBy(_._1)
    assert(out.sortBy(_._1).toSeq == ref, "two-level must equal per-bucket scan")

    // every doc in a batch shares the bucket; spread < bucketWidth;
    // all but the last batch of each bucket are full
    val byBatch = out.groupBy(t => (t._3, t._4))
    assert(byBatch.values.forall(b => b.map(_._2).max - b.map(_._2).min < 32))
    byBatch.groupBy(_._1._1).foreach { case (_, batches) =>
      val maxId = batches.keys.map(_._2).max
      batches.filter(_._1._2 < maxId).values.foreach(b =>
        assert(b.length == 16, "only the last batch of a bucket may be short"))
    }
  }

  test("connectedComponents agrees with union-find on random graphs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val edges = Seq.fill(20 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        // union-find reference: attaching the larger root under the smaller
        // keeps every root the min id of its component
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        assert(got.keySet == nodes.toSet)
        nodes.foreach(v => assert(got(v) == find(v.toInt).toLong,
          s"node $v: got ${got(v)}, union-find says ${find(v.toInt)}"))
      }
    }
  }

  test("connectedComponentsIncremental: fold ≡ one-shot on random seeded graphs, delta merges to full") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 40 + rnd.nextInt(40)
      val all = Seq.fill(30 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (all.nonEmpty) {
        val (gen1, gen2) = all.partition { case (a, b) => (a + b) % 2 == 0 }
        val oneShot = Dedup.connectedComponents(all.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val store =
          if (gen1.nonEmpty) Dedup.connectedComponents(gen1.toDF("a", "b"), "a", "b")
          else Seq.empty[(Long, Long)].toDF("node", "component")
        val inc = Dedup.connectedComponentsIncremental(store, "node", "component",
          gen2.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(inc == oneShot)
        // delta form: changed + new labels merged over the store equal
        // the full output — the commit-log merge materialization's shape
        val delta = Dedup.connectedComponentsIncremental(store, "node", "component",
          gen2.toDF("a", "b"), "a", "b", deltaOnly = true)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val storeMap = store.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(storeMap ++ delta == oneShot)
      }
    }
  }

  test("degenerate-batch guard: a store-scale batch trips the contracted-node bound loud (r16)") {
    import spark.implicits._
    val store = (0L until 20L).map(i => (i, i / 2 * 2)).toDF("node", "component")
    // a "batch" chaining every store cluster together contracts to a
    // node set the size of the store's root set — exactly the shape the
    // one-shot operator should handle; the declared broadcast bound
    // fails loud instead of silently melting the driver
    val batch = (0L until 18L by 2).map(i => (i, i + 2)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsIncremental(store, "node", "component",
        batch, "a", "b", maxContractedNodes = 4)
    }
    assert(e.getMessage.contains("maxContractedNodes=4") &&
      e.getMessage.contains("one-shot"), e.getMessage)
    // keepBest shares the fold, hence the guard
    val surv = store.select(col("node").as("doc_id"), col("component"),
      (col("node") % 7).cast("double").as("quality"),
      (col("node") === col("component")).as("is_survivor"))
    val ek = intercept[IllegalArgumentException] {
      Dedup.keepBestIncremental(surv, "doc_id", "quality",
        surv.limit(0).select(col("doc_id"), col("quality")),
        batch, "a", "b", maxContractedNodes = 4)
    }
    assert(ek.getMessage.contains("maxContractedNodes=4"), ek.getMessage)
    // the default bound leaves ordinary folds untouched
    assert(Dedup.connectedComponentsIncremental(store, "node", "component",
      batch, "a", "b").count() == 20)
  }

  test("connectedComponentsIncremental: edge cases — empty store, empty batch, known-edge idempotency") {
    import spark.implicits._
    val emptyAssign = Seq.empty[(Long, Long)].toDF("node", "component")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    // empty store: the fold IS a one-shot clustering of the batch
    val fromEmpty = Dedup.connectedComponentsIncremental(
      emptyAssign, "node", "component", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromEmpty == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val store = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("node", "component")
    // empty batch: assignment unchanged
    val noBatch = Dedup.connectedComponentsIncremental(store, "node", "component",
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noBatch == fromEmpty)
    // re-ingesting already-known edges changes nothing, and the delta
    // form proves it touched zero store rows
    assert(Dedup.connectedComponentsIncremental(store, "node", "component",
      edges, "a", "b", deltaOnly = true).count() == 0)
    // a single bridging edge merges two clusters; only the larger-rooted
    // cluster's rows appear in the delta
    val bridged = Dedup.connectedComponentsIncremental(store, "node", "component",
      Seq((3L, 11L)).toDF("a", "b"), "a", "b", deltaOnly = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bridged == Map(10L -> 1L, 11L -> 1L))
  }

  test("keepBestIncremental: fold ≡ one-shot on random seeded graphs, delta merges to full") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    for (_ <- 1 to 5) {
      val n = 40 + rnd.nextInt(40)
      // deterministic score law so both clusterings rank identically
      val scored = (0L until n).map(i => (i, (i * 37 % 100) / 10.0)).toDF("id", "score")
      val all = Seq.fill(30 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val isNew = (i: Long) => i % 10 == 7
      val (gen2a, gen1a) = all.partition { case (a, b) =>
        isNew(a) || isNew(b) || (a + b) % 2 != 0 }
      val oneShot = rowsOf(Dedup.keepBest(scored, "id", "score",
        Dedup.connectedComponents(all.toDF("a", "b"), "a", "b")))
      val store = Dedup.keepBest(scored.filter(!col("id").isin((0L until n).filter(isNew): _*)),
        "id", "score",
        if (gen1a.nonEmpty) Dedup.connectedComponents(gen1a.toDF("a", "b"), "a", "b")
        else Seq.empty[(Long, Long)].toDF("node", "component"))
      val newScored = scored.filter(col("id").isin((0L until n).filter(isNew): _*))
      val inc = rowsOf(Dedup.keepBestIncremental(store, "id", "score",
        newScored, gen2a.toDF("a", "b"), "a", "b"))
      assert(inc == oneShot)
      val delta = rowsOf(Dedup.keepBestIncremental(store, "id", "score",
        newScored, gen2a.toDF("a", "b"), "a", "b", deltaOnly = true))
      assert(rowsOf(store) ++ delta == oneShot)
    }
  }

  test("keepBestIncremental: a merge dethrones the absorbing cluster's survivor; delta is minimal") {
    import spark.implicits._
    val store = Dedup.keepBest(
      Seq((1L, 5.0), (2L, 3.0), (4L, 1.0)).toDF("id", "score"), "id", "score",
      Seq((1L, 1L), (2L, 1L)).toDF("node", "component"))
    // new doc 7 (score 9.0) bridges into {1,2}: survivor flips 1 → 7
    val out = Dedup.keepBestIncremental(store, "id", "score",
      Seq((7L, 9.0)).toDF("id", "score"),
      Seq((2L, 7L)).toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(out == Set((1L, 1L, false), (2L, 1L, false), (7L, 1L, true), (4L, 4L, true)))
    // untouched singleton 4 stays out of the delta; all affected rows in
    val delta = Dedup.keepBestIncremental(store, "id", "score",
      Seq((7L, 9.0)).toDF("id", "score"),
      Seq((2L, 7L)).toDF("a", "b"), "a", "b", deltaOnly = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(delta == Set((1L, 1L, false), (2L, 1L, false), (7L, 1L, true)))
    // edge-less scored batch: new docs survive alone, store untouched
    val solo = Dedup.keepBestIncremental(store, "id", "score",
      Seq((17L, 0.5)).toDF("id", "score"),
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", deltaOnly = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(solo == Set((17L, 17L, true)))
  }

  // ---- count-min sketch (r15 s3) ----

  test("CMS estimates never undercount and are exact absent collisions") {
    import spark.implicits._
    import graft.ops.CorpusStats
    val docs = Seq((1L, "apple apple banana"), (2L, "apple cherry")).toDF("id", "text")
    val sk = CorpusStats.cmsSketch(docs, "text", depth = 4, width = 1024)
    val probes = Seq("apple", "banana", "cherry", "absent").toDF("tok")
    val est = CorpusStats.cmsEstimate(sk, probes, "tok", depth = 4, width = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1024 buckets vs 4 tokens: no collisions, estimates are exact;
    // the never-seen token reads 0 from untouched buckets
    assert(est == Map("apple" -> 3L, "banana" -> 1L, "cherry" -> 1L, "absent" -> 0L),
      s"got $est")
  }

  test("CMS merge of disjoint batches estimates like the one-shot sketch") {
    import graft.ops.CorpusStats
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val one = CorpusStats.cmsSketch(docs, "text", depth = 4, width = 512)
    val folded = CorpusStats.cmsMerge(4, 512,
      CorpusStats.cmsSketch(docs.filter(col("doc_id") % 2 === 0), "text",
        depth = 4, width = 512),
      CorpusStats.cmsSketch(docs.filter(col("doc_id") % 2 =!= 0), "text",
        depth = 4, width = 512))
    val probes = docs.filter(col("doc_id") < 5)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val a = CorpusStats.cmsEstimate(one, probes, "tok", depth = 4, width = 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = CorpusStats.cmsEstimate(folded, probes, "tok", depth = 4, width = 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b && a.nonEmpty)
    // one-sided error on the real fixture: estimate ≥ exact everywhere
    val exact = docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.forall { case (t, e) => e >= exact.getOrElse(t, 0L) })
  }

  test("histogram sketch: exact under 100, lower-bound law above, merge ≡ one-shot, guards loud (r16)") {
    import spark.implicits._
    import graft.ops.CorpusStats
    // hand-computed bins: values < 100 are exact (2 lead digits); the
    // multi-decade values report their bin's LOWER BOUND
    val vals = Seq(5L, 7L, 123L, 4567L, 89012L).toDF("v")
    val sk = CorpusStats.histogramSketch(vals, "v")
    val est = CorpusStats.histogramQuantiles(sk, Seq(0.2, 0.6, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // rank 1 → 5 (exact), rank 3 → 123 → bin (3, 12) → 120,
    // rank 5 → 89012 → bin (5, 89) → 89000
    assert(est == Map(0.2 -> 5L, 0.6 -> 120L, 1.0 -> 89000L), s"got $est")
    // the lower bound never exceeds the true rank value, and the true
    // value sits within one bin width (10% at 2 lead digits)
    assert(est(0.6) <= 123 && 123 < est(0.6) * 1.1)
    // merge of disjoint halves answers like the one-shot sketch
    val folded = CorpusStats.histogramMerge(2,
      CorpusStats.histogramSketch(vals.filter(col("v") < 100), "v"),
      CorpusStats.histogramSketch(vals.filter(col("v") >= 100), "v"))
    val viaFold = CorpusStats.histogramQuantiles(folded, Seq(0.2, 0.6, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(viaFold == est)
    // 19-digit values decode their lower bound in EXACT long arithmetic
    // (r17, ADVICE r16): 8912345678901234567 → bin (19, 89) → exactly
    // 89 · 10^17, independent of any consumer's floating-point model
    // (the old double decode happened to be exact at 2 lead digits —
    // lead · 5^e < 2^53 — but the scaladoc's "deterministic integer"
    // claim now holds by construction, not by mantissa accounting)
    val big = CorpusStats.histogramQuantiles(
      CorpusStats.histogramSketch(Seq(8912345678901234567L).toDF("v"), "v"),
      Seq(1.0)).collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(big == Map(1.0 -> 8900000000000000000L), s"got $big")
    // a zero lands in its own exact bin and counts toward ranks
    val withZero = CorpusStats.histogramQuantiles(
      CorpusStats.histogramSketch(Seq(0L, 50L).toDF("v"), "v"), Seq(0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(withZero == Map(0.5 -> 0L, 1.0 -> 50L))
    // mixed lead-digit geometry fails loud at EXECUTION; construction
    // fires zero jobs (the cmsGuarded discipline)
    val mixed = ConstructionJobProbe.assertNoConstructionJobs(spark, "hist-merge") {
      CorpusStats.histogramQuantiles(
        CorpusStats.histogramMerge(2, sk,
          CorpusStats.histogramSketch(vals, "v", leadDigits = 3)), Seq(0.5))
    }
    val eMixed = intercept[Exception](mixed.collect())
    assert(eMixed.getMessage.contains("expected 2"), eMixed.getMessage)
    // negative values are an in-plan hard error, not a silent drop
    val eNeg = intercept[Exception](
      CorpusStats.histogramSketch(Seq(-3L).toDF("v"), "v").collect())
    assert(eNeg.getMessage.contains("negative"), eNeg.getMessage)
    // a NULL gets its own message (a data-quality gap, not a sign error)
    val eNull = intercept[Exception](
      CorpusStats.histogramSketch(
        Seq(Some(1L), None).toDF("v"), "v").collect())
    assert(eNull.getMessage.contains("null value"), eNull.getMessage)
    // quantile domain validated; zero sketches fail with a domain message
    intercept[IllegalArgumentException](
      CorpusStats.histogramQuantiles(sk, Seq(0.0)))
    val eEmpty = intercept[IllegalArgumentException](
      CorpusStats.histogramMerge(2))
    assert(eEmpty.getMessage.contains("at least one sketch"), eEmpty.getMessage)
  }

  test("CMS estimate/merge construction fires zero Spark jobs (listener-asserted)") {
    import graft.ops.CorpusStats
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sk = CorpusStats.cmsSketch(docs, "text", depth = 4, width = 512)
    val probes = docs.filter(col("doc_id") < 5)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    // the r15 s3 review shape ran an eager distinct().collect() geometry
    // scan (re-running the whole sketch plan) per merge/estimate call;
    // the declared-geometry + in-plan-guard form is pure plan
    // composition. Job-group-scoped so concurrent suites can't
    // false-fail this (the DsirModelSpec pattern).
    val group = s"cms-plan-construction-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val est =
      try {
        spark.sparkContext.setJobGroup(group, "cms plan construction probe")
        val merged = CorpusStats.cmsMerge(4, 512, sk, sk)
        val e = CorpusStats.cmsEstimate(merged, probes, "tok",
          depth = 4, width = 512)
        // drain the async bus deterministically — a fixed sleep can only
        // ever FALSE-PASS (a late-landing job event escapes the assert)
        org.apache.spark.graft.BusAccess.waitUntilListenerBusEmpty(spark.sparkContext)
        assert(jobs.get() == 0,
          s"plan construction must fire no Spark job, saw ${jobs.get()}")
        e
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    // the composed plan still executes correctly (double-counted merge)
    val one = CorpusStats.cmsEstimate(sk, probes, "tok", depth = 4, width = 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val two = est.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(two == one.map { case (t, c) => t -> 2 * c })
  }

  test("CMS geometry mismatches raise in-plan at execution, zero construction jobs") {
    import graft.ops.CorpusStats
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(10)
    val a = CorpusStats.cmsSketch(docs, "text", depth = 4, width = 512)
    val b = CorpusStats.cmsSketch(docs, "text", depth = 4, width = 1024)
    // construction is pure plan composition (the eager distinct().collect()
    // geometry scan is gone); the per-row guard fires on the first action
    val merged = CorpusStats.cmsMerge(4, 512, a, b)
    val ex = intercept[Exception](merged.collect())
    assert(ex.getMessage != null &&
      (ex.getMessage.contains("geometry mismatch") ||
        Option(ex.getCause).exists(_.getMessage.contains("geometry mismatch"))),
      s"expected the in-plan geometry guard to fire: $ex")
  }
}

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("codegen cosine is bit-identical to the interpreted HOF form") {
    import graft.ops.Similarity
    val e = Tables.embeddings(spark, sf).limit(100)
    val pairs = e.select(col("vec_id").as("ia"), Similarity.asDouble(col("embedding")).as("va"))
      .crossJoin(e.select(col("vec_id").as("ib"), Similarity.asDouble(col("embedding")).as("vb")))
      .filter(col("ia") < col("ib")).limit(500)
    val diff = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("native"),
      Similarity.cosineHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("SQL registration: cosine_similarity and dot_product callable from spark.sql") {
    graft.expressions.VectorExpressions.register(spark)
    val r = spark.sql(
      "select cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
      "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) d").collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 11.0)
  }

  test("expression participates in whole-stage codegen") {
    import graft.ops.Similarity
    val e = Tables.embeddings(spark, sf)
    val df = e.select(Similarity.cosine(
      Similarity.asDouble(col("embedding")), Similarity.asDouble(col("embedding"))).as("c"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen span:\n$plan")
  }
}

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import graft.ops.AsOfJoin

  test("asof attaches latest right row at-or-before left ts, per key") {
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, t("2024-01-05 00:00:00")),
      (2L, 10L, t("2024-01-01 00:00:00")),  // before any right row
      (3L, 20L, t("2024-01-10 00:00:00"))).toDF("id", "k", "ts")
    val right = Seq(
      (10L, t("2024-01-02 00:00:00"), 1.0),
      (10L, t("2024-01-04 00:00:00"), 2.0),
      (10L, t("2024-01-06 00:00:00"), 3.0),  // after left id=1 → never matched
      (20L, t("2024-01-10 00:00:00"), 9.0))  // exact tie → matches
      .toDF("k", "ts", "v")
    val out = AsOfJoin.asof(left, right, "k", "ts", "ts", Map("v" -> "rv"))
      .orderBy("id").collect()
    assert(out(0).getAs[Double]("rv") == 2.0)       // latest ≤ 01-05 is 01-04
    assert(out(1).isNullAt(out(1).fieldIndex("rv"))) // nothing before 01-01
    assert(out(2).getAs[Double]("rv") == 9.0)       // equal ts matches
  }

  test("asof tolerance nulls out stale matches") {
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 10L, t("2024-01-05 00:00:00"))).toDF("id", "k", "ts")
    val right = Seq((10L, t("2024-01-01 00:00:00"), 1.0)).toDF("k", "ts", "v")
    val within = AsOfJoin.asof(left, right, "k", "ts", "ts", Map("v" -> "rv"),
      toleranceSeconds = Some(10L * 24 * 3600)).collect()(0)
    val beyond = AsOfJoin.asof(left, right, "k", "ts", "ts", Map("v" -> "rv"),
      toleranceSeconds = Some(24 * 3600L)).collect()(0)
    assert(within.getAs[Double]("rv") == 1.0)
    assert(beyond.isNullAt(beyond.fieldIndex("rv")))
  }

  test("ivf topk: every result's cosine is bounded by brute force and probes help recall") {
    import graft.ops.{Ivf, Similarity}
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf1 = Ivf.topK(q, e, "vec_id", "embedding", 5, nCells = 8, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf4 = Ivf.topK(q, e, "vec_id", "embedding", 5, nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val r1 = (brute intersect ivf1).size.toDouble / brute.size
    val r4 = (brute intersect ivf4).size.toDouble / brute.size
    assert(r4 >= r1, s"more probes must not lower recall: $r1 vs $r4")
    assert(r4 > 0.3, s"4-of-8-cell probe recall too low: $r4")
  }
}

/** Regression tests for the degenerate-input bugs found in review: texts
  * shorter than a shingle, empty/whitespace text, NULL timestamps, NULL
  * payloads, empty sources. */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("short and empty texts flow through every text/dedup op without errors") {
    val df = Seq((1L, ""), (2L, "ab"), (3L, "one"), (4L, "two words"),
      (5L, "a much longer document with plenty of tokens in it"),
      (6L, "a much longer document with plenty of tokens in it")).toDF("id", "text")
    // none of these may throw (sequence(1,0) == [1,0] regression)
    assert(graft.ops.Dedup.ngramJaccardPairs(df, "id", "text", n = 3, threshold = 0.1).count() >= 1)
    val mh = graft.ops.Dedup.minhashLshPairs(df, "id", "text", threshold = 0.99).collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).contains((5L, 6L)))
    // docs 1-3 are shorter than the 5-char shingle → sentinel signatures → candidate pair 1-2? 
    // (1,"") vs (2,"ab") vs (3,"one"): all sentinel → est 1.0 pairs among them
    val sentinelPairs = mh.map(r => (r.getLong(0), r.getLong(1))).filter(_._1 <= 3).filter(_._2 <= 3)
    assert(sentinelPairs.nonEmpty, "sub-shingle docs must share the sentinel signature like the oracle")
    assert(graft.ops.Dedup.simhashPairs(df, "id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).contains((5L, 6L)))
    val shingles = df.select(graft.ops.TextAnalysis.wordShingles(col("text"), 3)).collect()
    assert(shingles.take(3).forall(_.getSeq[String](0).isEmpty))
  }

  test("snapshot with NULL source updated_at keeps the row (no silent data loss)") {
    import graft.materializations.Snapshot
    val rm = new graft.relations.RelationManager(spark,
      java.nio.file.Files.createTempDirectory("graft_nullsnap").toString)
    val rel = graft.core.Relation("graft", "snapshots", "null_ts_snap")
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val v1 = Seq((1, "a", t)).toDF("id", "v", "updated_at")
    Snapshot(rm, rel, v1, Seq("id"), Snapshot.TimestampStrategy("updated_at"))
    val v2 = Seq((1, "a", null.asInstanceOf[java.sql.Timestamp])).toDF("id", "v", "updated_at")
    Snapshot(rm, rel, v2, Seq("id"), Snapshot.TimestampStrategy("updated_at"))
    // NULL comparison counts as unchanged: the open row survives
    assert(rm.read(rel).filter(col("dbt_valid_to").isNull).count() == 1)
  }

  test("asof: NULL payload in the matched row does not leak an older value") {
    import graft.ops.AsOfJoin
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, 10L, t("2024-01-05 00:00:00"))).toDF("id", "k", "ts")
    val right = Seq(
      (10L, t("2024-01-01 00:00:00"), Some(5.0)),
      (10L, t("2024-01-03 00:00:00"), None)).toDF("k", "ts", "v")
    val out = AsOfJoin.asof(left, right, "k", "ts", "ts", Map("v" -> "rv")).collect()(0)
    assert(out.getAs[java.sql.Timestamp]("matched_ts") == t("2024-01-03 00:00:00"))
    assert(out.isNullAt(out.fieldIndex("rv")), "payload must come from the MATCHED row")
  }

  test("freshness on an empty source reports error, not NPE") {
    val empty = Seq.empty[(Long, java.sql.Timestamp)].toDF("id", "ts")
    val f = graft.quality.GenericTests.sourceFreshness(empty, "ts", 60, 120)
    assert(f.status == "error" && f.ageSeconds.isPosInfinity)
  }

  test("run_results JSON stays parseable when error messages contain newlines") {
    val rm = new graft.relations.RelationManager(spark,
      java.nio.file.Files.createTempDirectory("graft_json").toString)
    val bad = graft.compile.TemplateResolver.parseModel("pkg", "bad",
      "{{ config(materialized='table') }}\nselect * from table_that_isnt_there")
    val runner = new graft.runner.Runner(spark, rm, graft.core.Manifest(Seq(bad)).processRefs())
    val results = runner.run()
    assert(results.head.status == "error" && results.head.message.contains("\n"))
    val p = java.nio.file.Files.createTempFile("rr", ".json")
    runner.writeRunResults(results, p.toString)
    // must be valid JSON despite the multi-line Spark error message
    val txt = java.nio.file.Files.readString(p)
    assert(!txt.split("\n").exists(l => l.contains("table_that_isnt_there") && !l.contains("\\n")) || !txt.contains("\n\"") )
    assert(txt.contains("\\n"))
  }
}

class RangeJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import graft.ops.RangeJoin

  test("bucketized range join equals the naive range join and avoids nested-loop plans") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val points = (1 to 2000).map(i => (i.toLong, rnd.between(0L, 10000L))).toDF("pid", "x")
    val intervals = (1 to 300).map { i =>
      val lo = rnd.between(0L, 9500L); (i.toLong, lo, lo + rnd.between(1L, 500L))
    }.toDF("iid", "lo", "hi")

    val naive = points.join(intervals, $"x" >= $"lo" && $"x" < $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = RangeJoin.pointInInterval(points, intervals,
      col("x"), col("lo"), col("hi"), keys = Nil, bucketWidth = 250)
      .select("pid", "iid")
    val got = bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")

    bucketed.collect()
    val plan = bucketed.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range join must stay an equi-join:\n$plan")
  }

  test("an exploded interval side is not broadcast on its pre-explode size estimate") {
    // 40 intervals (under 1 KB estimated) each span 5000 buckets and
    // explode to 200k rows — far past the threshold set here, as open-ended
    // SCD-2 rows (5000+ daily buckets to maxTs) are past the session's
    // 64 MB one at sf0.1, where a broadcast of them exhausts the driver
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
    try {
      val points = spark.range(0, 50000).select(col("id").as("pid"), col("id").as("x"))
      val intervals = spark.range(0, 40).select(col("id").as("iid"),
        (col("id") * 10).as("lo"), (col("id") * 10 + 50000).as("hi"))
      val n = RangeJoin.pointInInterval(points, intervals,
        col("x"), col("lo"), col("hi"), keys = Nil, bucketWidth = 10)
        .agg(count(lit(1)))
      assert(n.collect().head.getLong(0) == (0 until 40).map(i => 50000L - 10 * i).sum)
      val plan = n.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastHashJoin"),
        s"exploded interval side must not be broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("SCD-2 lookup: order joined to the snapshot version valid at order time") {
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val snapshot = Seq(
      (1L, "bronze", t("2024-01-01 00:00:00"), t("2024-03-01 00:00:00")),
      (1L, "gold", t("2024-03-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp]),
      (2L, "silver", t("2024-01-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp]))
      .toDF("cust", "tier", "dbt_valid_from", "dbt_valid_to")
    val orders = Seq(
      (100L, 1L, t("2024-02-15 00:00:00")),
      (101L, 1L, t("2024-04-01 00:00:00")),
      (102L, 2L, t("2024-06-01 00:00:00"))).toDF("oid", "cust", "ots")
    val looked = RangeJoin.timestampInInterval(
      orders, snapshot, "ots", "dbt_valid_from", "dbt_valid_to",
      keys = Seq("cust"), bucketSeconds = 30L * 24 * 3600,
      maxTs = t("2030-01-01 00:00:00"))
      .select("oid", "tier").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(looked == Map(100L -> "bronze", 101L -> "gold", 102L -> "silver"))
  }
}

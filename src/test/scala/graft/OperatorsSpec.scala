package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, Dedup, Graph, Multimodal, Search, Similarity, TextAnalysis}

/** Behavioral specs for the pipeline operators (beyond "it runs"). */
class OperatorsSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.df(spark, sf, "documents").cache()
  private lazy val emb = Tables.df(spark, sf, "embeddings").cache()

  test("exact dedup keeps one representative per key and counts dups") {
    val out = Dedup.exact(docs, Seq("lang", "source"), "doc_id").collect()
    assert(out.map(_.getLong(3)).sum == docs.count())  // n_dups partitions rows
    assert(out.forall(_.getLong(3) >= 1))
  }

  test("exact-substring pairs: verify rejects hash collisions; cap drops boilerplate") {
    import spark.implicits._
    // "b!" and "a@" POLYHASH-COLLIDE at width 2 (98·31+33 == 97·31+64 ==
    // 3071): the fingerprint join emits the candidate, the substring
    // verify must kill it — a hash-only implementation returns a bogus
    // pair here. Docs 3/4 share a real 2-char span ("xy").
    val tricky = Seq(
      (1L, "b!"), (2L, "a@"), (3L, "qxyq"), (4L, "zxyz"))
      .toDF("doc_id", "text")
    val pairs = Dedup.exactSubstringPairs(tricky, "doc_id", "text", span = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((3L, 4L, 1L)), pairs)
    // boilerplate cap: a span occurring in > cap docs is dropped; the
    // docs still pair through any rarer shared span
    val boiler = Seq(
      (1L, "HEADER common tail-a"), (2L, "HEADER common tail-b"),
      (3L, "HEADER common tail-c"), (4L, "HEADER rare-pair-xx"),
      (5L, "FOOTER rare-pair-xx")).toDF("doc_id", "text")
    val capped = Dedup.exactSubstringPairs(boiler, "doc_id", "text",
        span = 13, maxOccurrences = Some(2))
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // "HEADER common" occurs in 3 docs -> capped out; docs 4,5 share
    // the 13-char " rare-pair-xx" seen twice -> survives
    assert(capped == Set((4L, 5L)), capped)
    // and without the cap the boilerplate trio pairs fully
    val full = Dedup.exactSubstringPairs(boiler, "doc_id", "text", span = 13)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)), full)
  }

  test("strip shared spans: later copy cut, intervals merge, first copy survives") {
    import spark.implicits._
    val docs = Seq(
      // doc 1 is the first copy: survives verbatim
      (1L, "KEEPME the-shared-sentence-here tail-one"),
      // doc 2 repeats the run: it gets cut there, rest intact
      (2L, "ab the-shared-sentence-here cd"),
      // doc 3 shares overlapping runs with 1 AND 2 -> intervals merge
      (3L, "xx the-shared-sentence-here cd!"),
      (4L, "completely unrelated document")).toDF("doc_id", "text")
    val out = Dedup.stripSharedSpans(docs, "doc_id", "text",
        span = 8, minLen = 12)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == "KEEPME the-shared-sentence-here tail-one", out)
    assert(out(1L)._2 == 0)
    assert(out(4L)._1 == "completely unrelated document" && out(4L)._2 == 0)
    // doc 2 shares " the-shared-sentence-here " (with surrounding spaces
    // differing at the edges) — whatever the exact run, the stripped
    // text must contain no 12-char substring of doc 1 anymore
    def sharesRun(a: String, b: String, n: Int): Boolean =
      (0 to a.length - n).exists(i => b.contains(a.substring(i, i + n)))
    assert(!sharesRun(out(1L)._1, out(2L)._1, 12),
      s"doc 2 still shares a >=12 run: ${out(2L)}")
    assert(!sharesRun(out(1L)._1, out(3L)._1, 12), out(3L))
    assert(out(2L)._2 > 0 && out(3L)._2 > 0, out)
    // every stripped doc's remains are a subsequence of the original
    assert(out(2L)._1.startsWith("ab") , out(2L))
  }

  test("incremental exact-substring: only batch-touching pairs, both directions collapse") {
    import spark.implicits._
    // corpus docs 1/2 share a span with EACH OTHER (must NOT re-pair) and
    // with batch doc 10; batch docs 10/11 pair with each other too
    val corpus = Seq(
      (1L, "shared-prefix-alpha corpus one"),
      (2L, "shared-prefix-alpha corpus two"),
      (3L, "nothing in common at all here!")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "shared-prefix-alpha batch  ten"),
      (11L, "shared-prefix-alpha batch ele.")).toDF("doc_id", "text")
    val out = Dedup.exactSubstringIncremental(corpus, batch,
        "doc_id", "text", span = 19)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (10L, 11L)),
      out) // (1,2) is corpus-corpus: already known, not re-paired
    // and the batch result agrees with the full recompute restricted to
    // batch-touching pairs
    val full = Dedup.exactSubstringPairs(corpus.unionByName(batch),
        "doc_id", "text", span = 19)
      .filter(col("id_b") >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incr = Dedup.exactSubstringIncremental(corpus, batch,
        "doc_id", "text", span = 19)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr == full, s"incr=$incr full=$full")
  }

  test("longest shared substring: islands chain, offsets separate, collisions rejected") {
    import spark.implicits._
    // docs 1/2 share "the quick brown fox jumps " (26 chars, trailing
    // space included — both continue with a space) at DIFFERENT
    // positions (the run chains at one constant offset) plus a short
    // " zebra" match that must not extend or win; docs 4/5 share TWO
    // disjoint runs (12 and 14 chars) — longest reports the max, never
    // the sum
    val docs = Seq(
      (1L, "xx the quick brown fox jumps yy zebra"),
      (2L, "the quick brown fox jumps qq zebra"),
      (3L, "no overlap here at all, none"),
      (4L, "AAAABBBBCCCC....DDDDEEEEFFFFGG"),
      (5L, "AAAABBBBCCCCzzzzDDDDEEEEFFFFGG"))
      .toDF("doc_id", "text")
    val out = Dedup.longestSharedSubstring(docs, "doc_id", "text",
        span = 6, minLen = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out((1L, 2L)) == 26, out)
    assert(out((4L, 5L)) == 14, out)
    assert(out.size == 2, out)
  }

  test("ann recall: bounded by k, monotone in multiprobe, full at high tables") {
    import spark.implicits._
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def run(tables: Int, planes: Int, probe: Int) =
      Similarity.annRecall(q, df, k = 3, nPlanes = planes, nTables = tables,
          multiProbe = probe)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val base = run(2, 4, 0)
    val probed = run(2, 4, 2)
    assert(base.size == 4 && base.values.forall { case (k, h) => k == 3 && h <= 3 })
    // multiprobe candidates are a superset -> recall never decreases
    assert(base.keys.forall(qid => probed(qid)._2 >= base(qid)._2),
      s"base=$base probed=$probed")
    // 16 one-plane tables collide nearly everything -> full recall
    val full = run(16, 1, 0)
    assert(full.values.forall(_._2 == 3), full)
  }

  test("knn label accuracy: clean clusters score, a mislabeled point misses") {
    import spark.implicits._
    // two tight cosine clusters; vec 5 sits geometrically in cluster 0
    // but carries label 1 — its majority vote must be 0 (a miss for
    // class 1), while every correctly-labeled point scores
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0.99f, 0.05f, 0f, 0f), 0),
      (3L, Array(0.98f, -0.05f, 0f, 0f), 0),
      (11L, Array(0f, 0f, 1f, 0f), 1),
      (12L, Array(0f, 0f, 0.99f, 0.05f), 1),
      (13L, Array(0f, 0f, 0.98f, -0.05f), 1),
      (5L, Array(0.97f, 0.02f, 0f, 0f), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAccuracy(df, k = 3, nPlanes = 2, nTables = 8)
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(0) == ((3L, 3L)), out)
    assert(out(1) == ((4L, 3L)), out)
  }

  test("minhash LSH pairs are ordered, thresholded, and include true near-dups") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("minhash candidates superset exact high-jaccard pairs (recall sanity)") {
    // every pair the exact blocked scan finds at j>=0.9 must be caught by LSH
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
  }

  test("connected components converge on a 100-node path graph (pointer jumping)") {
    import spark.implicits._
    // a chain 0-1-2-...-99: diameter 99, the adversarial case for plain
    // min-label propagation (needs 99 rounds); pointer jumping must close
    // it within the default budget and label every node with 0
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 100)
    assert(labels.values.forall(_ == 0L))
    // two separate cliques keep separate representatives
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val reps = Dedup.connectedComponents(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("bm25 top-k matches a hand-computed tiny corpus exactly") {
    import spark.implicits._
    // N=3, total_dl=9, avgdl=3; df(a)=1, df(c)=2
    // d1: idf(a)=2.5/1.5, tf=2, dl=3 -> (2.5/1.5)*5/3.5      = 2.380952...
    // d3: idf(c)=0.6,     tf=4, dl=4 -> 0.6*10/5.875          = 1.021276...
    // d2: idf(c)=0.6,     tf=1, dl=2 -> 0.6*2.5/2.125         = 0.705882...
    val tiny = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c c c")).toDF("doc_id", "text")
    val out = graft.operators.Search.bm25TopK(tiny, "doc_id", "text",
      Seq("a", "c"), k = 3).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 2L))
    // fixed-point micros: values are exact, not approximate
    assert(out.map(_.getDouble(2)).toSeq == Seq(2.380952, 1.021277, 0.705882))
    // k bounds the result
    val top1 = graft.operators.Search.bm25TopK(tiny, "doc_id", "text",
      Seq("a", "c"), k = 1).collect()
    assert(top1.map(_.getLong(0)).toSeq == Seq(1L))
    // a term absent from the corpus contributes nothing (no NULL poisoning)
    val absent = graft.operators.Search.bm25TopK(tiny, "doc_id", "text",
      Seq("zzz", "a"), k = 3).collect()
    assert(absent.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("simhash near-identical docs get close fingerprints") {
    import spark.implicits._
    val twoDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different words about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val fp = Dedup.simhashed(twoDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
  }

  test("brute-force top-k: k rows per query, ranked by descending cosine") {
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val res = Similarity.bruteForceTopK(q, emb, k = 5).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.size == 3 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("LSH top-k results are a subset of brute-force candidates' quality") {
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val lsh = Similarity.lshTopK(q, emb, k = 5, nPlanes = 6).collect()
    // approximate: every returned neighbor shares the query's bucket; just
    // assert shape + rank ordering + no self matches
    assert(lsh.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("language ID predicts a known-language sentence") {
    import spark.implicits._
    val sample = Seq(
      (1L, "the cat is on a mat of the house and is happy"),
      (2L, "el gato que esta en la casa y de la calle")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(sample, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
  }

  test("quality score stays in [0,1] and ratios are consistent") {
    val out = TextAnalysis.qualityScore(docs, "doc_id", "text").collect()
    assert(out.forall { r =>
      val q = r.getDouble(6); q >= 0.0 && q <= 1.0
    })
  }

  test("asof directions agree with a hand-computed tiny case") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val l = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L), (1L, 280L, 13L))
      .toDF("k", "t", "lid")
      .select(col("k"), timestamp_micros(col("t") * 1000000L).as("t"), col("lid"))
    val r = Seq((1L, 90L, 900L), (1L, 150L, 901L), (1L, 300L, 902L))
      .toDF("k", "t", "p")
      .select(col("k"), timestamp_micros(col("t") * 1000000L).as("t"), col("p"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(2) -> Option(x.get(3)).map(_.asInstanceOf[Long])).toMap
    val back = m(AsOfJoin.asof(l, r, "k", "t", "lid", "p"))
    assert(back == Map(10L -> Some(900L), 11L -> Some(901L), 12L -> None, 13L -> Some(901L)))
    val fwd = m(AsOfJoin.asofForward(l, r, "k", "t", "lid", "p"))
    assert(fwd == Map(10L -> Some(901L), 11L -> Some(902L), 12L -> None, 13L -> Some(902L)))
    // lid 10: back 10s vs fwd 50s → back; lid 11: back 50s vs fwd 100s →
    // back; lid 13: back 130s vs fwd 20s → forward
    val near = m(AsOfJoin.asofNearest(l, r, "k", "t", "lid", "p"))
    assert(near == Map(10L -> Some(900L), 11L -> Some(901L), 12L -> None, 13L -> Some(902L)))
    // pandas tolerance semantics: each direction is bounded BEFORE the
    // nearest pick. 11's best (back, 50s) exceeds 20s → NULL; 10's back
    // (10s) survives; 13's back (130s) is out but its forward (20s) is in
    // → forward match, not NULL
    val tol = m(AsOfJoin.asofNearest(l, r, "k", "t", "lid", "p",
      toleranceMicros = Some(20L * 1000000L)))
    assert(tol == Map(10L -> Some(900L), 11L -> None, 12L -> None, 13L -> Some(902L)))
  }

  test("priority sample is deterministic, k-bounded, and weight-sensitive") {
    import graft.operators.Sampling
    val a = Sampling.prioritySample(docs, "doc_id", "n_chars", k = 30, salt = "t")
      .collect().map(_.getLong(0)).toSeq
    val b = Sampling.prioritySample(docs.repartition(13), "doc_id", "n_chars",
      k = 30, salt = "t").collect().map(_.getLong(0)).toSeq
    assert(a == b && a.size == 30) // partitioning-independent, ordered identically
    // expected n_chars among winners ≥ corpus mean (weights bias selection)
    val meanAll = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    val meanWin = Sampling.prioritySample(docs, "doc_id", "n_chars", 30, "t")
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(meanWin > meanAll)
  }

  test("splitByCluster: near-dup pairs never straddle splits; isolated docs self-cluster") {
    import graft.operators.{Dedup, Sampling}
    val out = Sampling.splitByCluster(docs, "doc_id", "text",
      trainPct = 80, validPct = 10, threshold = 0.5, salt = "nl")
      .select("doc_id", "cluster_id", "split").collect()
    assert(out.length == docs.count())
    val byId = out.map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // every LSH-verified near-dup pair shares both cluster AND split —
    // the leak `split(source)` permits when a dup crosses sources
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byId(a)._1 == byId(b)._1, s"pair ($a,$b) split into two clusters")
      assert(byId(a)._2 == byId(b)._2, s"pair ($a,$b) straddles splits")
    }
    // docs outside the pair graph are their own cluster and still split
    val paired = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    val iso = byId.keySet -- paired
    assert(iso.nonEmpty)
    iso.foreach(i => assert(byId(i)._1 == i, s"isolated $i got cluster ${byId(i)._1}"))
    assert(out.map(_.getString(2)).toSet == Set("train", "valid", "test"))
  }

  test("multimodal feature extraction preserves ids and byte counts") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    // features share lineage with `docs` now (expression, not an RDD
    // round-trip) → alias both sides of the self-join
    val feats = Multimodal.extractFeatures(media).alias("f")
    assert(feats.count() == docs.count())
    val j = feats.join(docs.alias("d"), col("f.media_id") === col("d.doc_id"))
      .filter(col("f.n_bytes") =!= length(col("d.text"))).count()
    assert(j == 0) // ASCII corpus: bytes == chars
  }

  test("image decode: JPEG dims exact + means near truth; corrupt streams fall back") {
    import spark.implicits._
    // JPEG is lossy, so its means are NOT gate-pinnable — assert dims
    // exactly and means within codec tolerance here instead
    val jpg = Multimodal.encodeImage(16, 8, "jpg")((_, _) => (100, 150, 200))
    val r = Multimodal.extractFeatures(Seq((1L, jpg)).toDF("media_id", "payload"))
      .collect()(0)
    assert(r.getInt(r.fieldIndex("width")) == 16 &&
      r.getInt(r.fieldIndex("height")) == 8)
    val means = r.getSeq[Double](r.fieldIndex("features"))
    Seq(100.0, 150.0, 200.0).zip(means).foreach { case (want, got) =>
      assert(math.abs(got * 255 - want) < 8.0, s"$want vs ${got * 255}")
    }
    // a PNG magic prefix on garbage bytes must fall back, not throw
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    val c = Multimodal.extractFeatures(Seq((2L, corrupt)).toDF("media_id", "payload"))
      .collect()(0)
    assert(c.isNullAt(c.fieldIndex("width")) && c.isNullAt(c.fieldIndex("height")))
    assert(c.getSeq[Double](c.fieldIndex("features")).length == 4)
  }

  test("image resize: real Java2D resample per-pixel; non-images take the stub") {
    import spark.implicits._
    // 8×8 quadrants, each a distinct constant color; 2× downscale to 4×4
    // must keep every output pixel inside its source quadrant whatever
    // sub-pixel rounding the renderer uses (blocks aligned to the factor)
    val quads = Array((200, 0, 0), (0, 200, 0), (0, 0, 200), (90, 90, 90))
    val src = Multimodal.encodeImage(8, 8, "png") { (x, y) =>
      quads((if (y < 4) 0 else 2) + (if (x < 4) 0 else 1))
    }
    val out = Multimodal.resize(
        Seq((1L, src)).toDF("media_id", "payload"), w = 4, h = 4)
      .collect()(0)
    assert(out.getInt(out.fieldIndex("width")) == 4 &&
      out.getInt(out.fieldIndex("height")) == 4)
    val img = graft.expr.MediaFeatures.readImage(
      out.getAs[Array[Byte]](out.fieldIndex("payload"))).get
    assert(img.getWidth == 4 && img.getHeight == 4)
    for (y <- 0 until 4; x <- 0 until 4) {
      val (r, g, b) = quads((if (y < 2) 0 else 2) + (if (x < 2) 0 else 1))
      val p = img.getRGB(x, y)
      assert(((p >>> 16) & 0xff, (p >>> 8) & 0xff, p & 0xff) == ((r, g, b)),
        s"pixel ($x,$y)")
    }
    // non-image payload → deterministic truncate/pad stub of w·h bytes
    val stub = Multimodal.resize(
        Seq((2L, "plain text".getBytes("UTF-8"))).toDF("media_id", "payload"),
        w = 4, h = 4)
      .collect()(0)
    val bytes = stub.getAs[Array[Byte]](stub.fieldIndex("payload"))
    assert(new String(bytes, "UTF-8") == "plain text      " && bytes.length == 16)
  }

  test("kmeansAssign: deterministic under repartitioning, converges vs seed") {
    val base = Similarity.kmeansAssign(emb, nCentroids = 8, trainIters = 1)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1))
    // fixed-point centroid means ⇒ identical assignment at any partitioning
    val shuffled = Similarity.kmeansAssign(emb.repartition(7), nCentroids = 8, trainIters = 1)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(base.sortBy(_._1).sameElements(shuffled.sortBy(_._1)))
    assert(base.map(_._2).distinct.length > 1, "degenerate single cluster")
    // one Lloyd step must not increase total within-cluster L2 vs seeding
    def cost(iters: Int): Double = {
      val cents = Similarity.trainCentroids(emb, 8, iters).toMap
      Similarity.kmeansAssign(emb, 8, iters)
        .select(col("cluster"), col("embedding").cast("array<double>"))
        .collect().map { r =>
          val c = cents(r.getLong(0)); val v = r.getSeq[Double](1)
          v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        }.sum
    }
    // margin covers the 1e-6 fixed-point centroid quantization (≤ ~0.1
    // summed over 500 points × 64 dims), not fp noise
    assert(cost(1) <= cost(0) + 0.1)
  }

  test("winsorize clamps to in-group order statistics and is idempotent") {
    import graft.operators.Curation
    val ev = Tables.df(spark, sf, "events")
    val out = Curation.winsorize(ev, "event_type", "value")
    val rows = out.select("event_type", "value", "value_clip").collect()
    val byType = ev.select("event_type", "value").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).toSet)
    rows.foreach { r =>
      val (t, v, c) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      // clipped value is either the original or one of the group's own values
      assert(c == v || byType(t).contains(c), s"clip bound not a group value: $t $c")
    }
    // at least one row actually clipped (5% tails on 10k rows)
    assert(rows.exists(r => r.getDouble(1) != r.getDouble(2)))
    // idempotent: winsorizing the clipped column changes nothing
    val again = Curation.winsorize(
      out.select(col("event_type"), col("value_clip").as("value")).withColumn("event_id", lit(0L)),
      "event_type", "value")
    assert(again.filter(col("value") =!= col("value_clip")).count() == 0)
  }

  test("winsorize bounds a hot group by value cardinality, not row count") {
    import graft.operators.Curation
    import spark.implicits._
    // one pathological group: 60k rows, only 9 distinct values — the
    // histogram form must rank 9 rows in the window, never 60k
    val skewed = ((0 until 60000).map(i => ("hot", (i % 9).toDouble)) ++
      (0 until 100).map(i => ("cold", i.toDouble))).toDF("k", "v")
    val out = Curation.winsorize(skewed, "k", "v", pLo = 0.1, pHi = 0.9)
    // exact order-statistic clamp per group, against a driver reference
    def refBound(vals: Seq[Double], p: Double): Double =
      vals.sorted.apply(math.ceil(p * vals.size).toInt - 1)
    // each group's (lo, hi) once: re-sorting the 60k-row group per output
    // row made this reference, not the operator, the test's cost
    val bounds = skewed.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues { kv =>
        val vals = kv.map(_._2).toSeq
        (refBound(vals, 0.1), refBound(vals, 0.9))
      }.toMap
    out.collect().foreach { r =>
      val (k, v, c) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      val (lo, hi) = bounds(k)
      assert(c == math.min(math.max(v, lo), hi), s"$k $v -> $c not in [$lo,$hi]")
    }
    // enforced in the plan: the rank window consumes the (group, value)
    // aggregate, so per-task window rows are the value histogram
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val histBelow = w.collect {
        case a: Aggregate if a.groupingExpressions.length == 2 => a
      }
      assert(histBelow.nonEmpty,
        s"rank window must sit on the (group, value) histogram:\n$w")
    }
  }

  test("inverted index invariants: cf sums to corpus tokens, postings length = df") {
    import graft.operators.Search
    val idx = Search.invertedIndex(docs, "doc_id", "text")
    val rows = idx.collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](3).length == r.getLong(1), "postings length != df")
      assert(r.getLong(2) >= r.getLong(1), "cf < df")
      val p = r.getSeq[Long](3)
      assert(p == p.sorted, "postings not id-sorted")
    }
    val totalTokens = docs.select(
      size(graft.functions.Hashing.tokens(col("text"))).as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == totalTokens, "sum(cf) != corpus token count")
  }

  test("booleanAnd returns exactly the docs containing every term") {
    import graft.operators.Search
    val hits = Search.booleanAnd(docs, "doc_id", "text", Seq("merge", "scan"))
      .collect().map(_.getLong(0)).toSet
    val manual = docs.select(col("doc_id"), lower(col("text")).as("t")).collect()
      .filter { r =>
        val toks = r.getString(1).split(" ").filter(_.nonEmpty).toSet
        toks.contains("merge") && toks.contains("scan")
      }.map(_.getLong(0)).toSet
    assert(hits == manual)
  }

  test("hard negatives have mismatched labels and descending similarity") {
    import graft.operators.Similarity
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Similarity.hardNegativeTopK(q, emb, k = 5).collect()
    out.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sims = rs.sortBy(_.getAs[Number](3).intValue).map(_.getDouble(2))
      assert(sims.sameElements(sims.sortBy(-(_: Double))), s"q$qid not ranked desc")
      rs.foreach(r => assert(labels(r.getLong(1)) != labels(qid),
        s"q$qid neighbor ${r.getLong(1)} shares its label"))
    }
  }

  test("knn graph: ≤ k ranked edges per node, no self-loops, mutual-ish top edges") {
    val out = Similarity.knnGraph(emb, k = 4, nPlanes = 6, nTables = 8).collect()
    val byNode = out.groupBy(_.getLong(0))
    assert(byNode.nonEmpty)
    byNode.foreach { case (src, rs) =>
      assert(rs.length <= 4, s"node $src has ${rs.length} edges")
      rs.foreach(r => assert(r.getLong(1) != src, s"self-loop at $src"))
      val byRank = rs.sortBy(_.getAs[Number](3).intValue).map(_.getDouble(2))
      assert(byRank.sameElements(byRank.sortBy(-(_: Double))), s"node $src not ranked desc")
    }
    // the graph must cover (nearly) every vector: banding into 8 tables
    // leaves no unbucketed rows, so only a vector whose every bucket is a
    // singleton across all 8 tables could be missing
    assert(byNode.size >= emb.count() * 95 / 100)
  }

  test("capped knn graph candidates are a subset of the uncapped candidate set") {
    // k larger than any node's candidate count ⇒ the edge list IS the
    // candidate set (rank never truncates), where the subset property is
    // exact; at small k capping can PROMOTE worse edges into the top-k,
    // which is the documented recall trade, not a bug
    val big = 100000
    val full = Similarity.knnGraph(emb, k = big, nPlanes = 6, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Similarity.knnGraph(emb, k = big, nPlanes = 6, nTables = 8,
      maxBucket = Some(8)).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.nonEmpty && capped.length < full.size,
      "a cap of 8 must actually drop hot buckets on this corpus")
    assert(capped.forall(full.contains),
      "capped candidates must come from the exact-LSH candidate set")
  }

  test("gopher quality: flags match recomputed rules on sampled docs") {
    // corpus-list stopwords: the published Gopher roster never matches the
    // synthetic word-soup, which would make the keep bit vacuously false
    val out = TextAnalysis.gopherQuality(docs, "doc_id", "text",
      stopwords = Seq("the", "a", "of", "and", "is")).collect()
    assert(out.length == docs.count())
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.take(50).foreach { r =>
      val words = texts(r.getLong(0)).toLowerCase.split("\\s+").filter(_.nonEmpty)
      assert(r.getInt(1) == words.length, s"doc ${r.getLong(0)} word count")
      val expectKeep = words.length >= 50 && words.length <= 100000 &&
        r.getDouble(2) >= 3.0 && r.getDouble(2) <= 10.0 &&
        r.getDouble(3) <= 0.1 && r.getDouble(4) <= 0.9 &&
        r.getDouble(5) <= 0.3 && r.getDouble(6) >= 0.8 && r.getInt(7) >= 2
      assert(r.getBoolean(8) == expectKeep, s"doc ${r.getLong(0)} keep bit")
    }
    // both verdicts must occur on the synthetic corpus (short docs fail
    // the 50-word floor; the rest pass) — otherwise the test is vacuous
    assert(out.exists(_.getBoolean(8)) && out.exists(!_.getBoolean(8)))
  }

  test("token budget: weights sum to ~1, allocation ≤ budget, epochs = alloc/avail") {
    val budget = 1000000L
    val out = graft.operators.Curation
      .tokenBudget(docs, "source", "text", budget).collect()
    val wsum = out.map(_.getDouble(2)).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
    assert(out.map(_.getLong(3)).sum <= budget) // floor never overshoots
    out.foreach { r =>
      val expected = r.getLong(3).toDouble / r.getLong(1).toDouble
      assert(math.abs(r.getDouble(4) - expected) < 1e-6)
    }
  }

  test("phrase search matches contiguous token runs only, dup words included") {
    import graft.operators.Search
    import spark.implicits._
    val tiny = Seq((1L, "a b c a b"), (2L, "a c b"), (3L, "b a b a b a"))
      .toDF("doc_id", "text")
    val r = Search.phraseSearch(tiny, "doc_id", "text", "a b").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getInt(2)))).toMap
    assert(r(1L) == ((2L, 0)))       // at 0 and 3
    assert(!r.contains(2L))          // words present but never contiguous
    assert(r(3L) == ((2L, 1)))       // at 1 and 3
    // a phrase REPEATING a word still requires exact contiguity
    val dup = Search.phraseSearch(tiny, "doc_id", "text", "b a b").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getInt(2)))).toMap
    assert(dup == Map(3L -> ((2L, 0)))) // "b a b" at 0 and 2 only
  }

  test("phrase search equals a naive sliding-window count on random docs") {
    import graft.operators.Search
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "b", "c")
    val corpus = (0L until 300L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(12))(alphabet(rnd.nextInt(3))).mkString(" "))
    }
    val phrase = Seq("a", "b", "a")
    val expected = corpus.flatMap { case (id, text) =>
      val tks = text.split(" ").toSeq
      val starts = tks.indices.filter(s =>
        s + phrase.length <= tks.length && tks.slice(s, s + phrase.length) == phrase)
      if (starts.isEmpty) None else Some(id -> ((starts.length.toLong, starts.min)))
    }.toMap
    val got = Search.phraseSearch(corpus.toDF("doc_id", "text"),
        "doc_id", "text", phrase.mkString(" ")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(expected.nonEmpty, "seed produced no matches — test would be vacuous")
    assert(got == expected)
  }

  test("snippets clamp at document edges and center the first hit") {
    import graft.operators.Search
    import spark.implicits._
    val tiny = Seq((1L, "hit me first then more words follow here"),
      (2L, "padding words before hit me and after tail")).toDF("doc_id", "text")
    val r = Search.snippets(tiny, "doc_id", "text", "hit me", window = 2)
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(r(1L) == "hit me first then")          // left edge clamps at 0
    assert(r(2L) == "words before hit me and after") // full window both sides
  }

  test("operator-internal caches do not outlive the query (cache hygiene)") {
    // declaration-ordered LAST: clearCache also drops this spec's docs/emb
    def drained(): Boolean = {
      // CacheHygiene unpersists from the async listener bus; poll briefly
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!spark.sharedState.cacheManager.isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
      spark.sharedState.cacheManager.isEmpty
    }
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty)
    val plain = Tables.df(spark, sf, "documents")
    Dedup.minhashPairs(plain, "doc_id", "text", threshold = 0.5)
      .write.format("noop").mode("overwrite").save()
    assert(drained(), "minhashPairs signature cache survived its query")
    Dedup.representatives(plain, "doc_id", "text")
      .write.format("noop").mode("overwrite").save()
    assert(drained(), "representatives/connectedComponents cache survived")
    graft.operators.Curation.pmiTopK(plain, "doc_id", "text", k = 5)
      .write.format("noop").mode("overwrite").save()
    assert(drained(), "pmiTopK unigram cache survived its query")
  }

  test("lmPerplexity: noise scores more bits than fluent repetition") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat and the cat sat again"),
      (2L, "the cat sat on the mat and the cat slept"),
      (3L, "zq xv qj wk bn mp zz qx vv kj"), // every bigram unique
      (4L, "solo")) // one token → no bigrams → not scored
      .toDF("doc_id", "text")
    val out = Curation.lmPerplexity(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(4L), out)
    // common bigrams ("the cat", "cat sat") are cheap; singleton noise
    // bigrams cost close to log2(V) more
    assert(out(1L)._2 < out(3L)._2, out)
    assert(out(2L)._2 < out(3L)._2, out)
    // n_bigrams = tokens - 1 per doc
    assert(out(1L)._1 == 10 && out(3L)._1 == 9, out)
    // deterministic under repartitioning (fixed-point micro-bits sum)
    val re = Curation.lmPerplexity(corpus.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(re == out)
  }

  test("principalComponent: recovers the dominant direction, partition-invariant") {
    import spark.implicits._
    // points spread along (3,4,0,0)/5 with small off-axis noise: PC1
    // projections must order the points by their position on the line
    val pts = (0 until 40).map { i =>
      val tpos = (i - 20).toDouble
      (i.toLong, Seq(3.0 / 5 * tpos, 4.0 / 5 * tpos,
        if (i % 2 == 0) 0.05 else -0.05, 0.0).map(_.toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val proj = Similarity.principalComponent(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // projections are monotone in the line position (up to global sign)
    val ordered = (0 until 40).map(i => proj(i.toLong))
    val diffs = ordered.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(_ > 0) || diffs.forall(_ < 0), ordered.take(5))
    // the center of the cloud projects to ~0 (centered projection)
    assert(math.abs(proj(20L)) < math.abs(proj(0L)) / 10, proj(20L))
    // bit-identical under repartitioning (integer fixed-point throughout)
    val re = Similarity.principalComponent(df.repartition(5), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(re == proj)
  }

  test("exactQuantiles: value-at-ceil(p*n) per group, duplicate-collapse exact") {
    import spark.implicits._
    // group a: values 1..10 (n=10): p=0.5 → rank 5 → 5; p=0.91 → rank 10 → 10
    // group b: heavy duplicates — 1×8, 9, 10 (n=10): p=0.5 → rank 5 → 1
    val df = ((1 to 10).map(v => ("a", v.toDouble)) ++
      (Seq.fill(8)(1.0) ++ Seq(9.0, 10.0)).map(("b", _))).toDF("k", "v")
    val q = Curation.exactQuantiles(df, "k", "v", Seq(0.5, 0.91))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(q(("a", 0.5)) == 5.0 && q(("a", 0.91)) == 10.0, q)
    assert(q(("b", 0.5)) == 1.0 && q(("b", 0.91)) == 10.0, q)
    // exactly one row per (group, p)
    assert(q.size == 4, q)
    // partitioning-invariant (counts, not row ranks)
    val re = Curation.exactQuantiles(df.repartition(7), "k", "v", Seq(0.5, 0.91))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(re == q)
  }

  test("tfidfTopTerms: rare distinguishing terms outrank ubiquitous ones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quantum engine uses the flux core the core"),
      (2L, "the garden grows the tomato and the tomato wins"),
      (3L, "the report is about the budget and the budget gap"))
      .toDF("doc_id", "text")
    val out = Search.tfidfTopTerms(corpus, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // 'the' appears in every doc (idf = 0) and can never be a keyword;
    // each doc's repeated distinctive term ranks first
    assert(out((1L, 1)) == "core", out)
    assert(out((2L, 1)) == "tomato", out)
    assert(out((3L, 1)) == "budget", out)
    assert(!out.values.toSet.contains("the"), out)
    // exactly k rows per doc, ranks dense from 1
    val ranks = out.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted)
    assert(ranks.values.forall(_ == Seq(1, 2)), ranks.toMap)
  }

  test("perplexityBuckets: terciles partition each domain, noise lands in tail") {
    import spark.implicits._
    val corpus = ((1 to 6).map(i =>
      (i.toLong, "the cat sat on the mat and slept well " + ("again " * i).trim, "en")) :+
      (7L, "zq xv qj wk bn mp zz qx vv kj", "en") :+   // unique-bigram noise
      (8L, "uno dos tres cuatro cinco seis", "es") :+
      (9L, "uno dos tres cuatro cinco siete", "es") :+
      (10L, "uno dos tres ocho nueve diez", "es"))
      .toDF("doc_id", "text", "lang")
    val out = Curation.perplexityBuckets(corpus, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    // per-domain tercile mass: 7 en docs → 2 head, 2 middle, 3 tail
    val en = out.filter(_._2._1 == "en").values.map(_._2).toSeq
    assert(en.count(_ == "head") == 2 && en.count(_ == "middle") == 2 &&
      en.count(_ == "tail") == 3, en)
    // the all-singleton-bigram noise doc is the worst-scored: tail
    assert(out(7L)._2 == "tail", out(7L))
    val es = out.filter(_._2._1 == "es").values.map(_._2).toSeq
    assert(es.count(_ == "head") == 1 && es.count(_ == "middle") == 1 &&
      es.count(_ == "tail") == 1, es)
  }

  test("principalResidual: on-line points score ~0, off-line outliers score high") {
    import spark.implicits._
    // 20 points exactly on a line through the origin plus one far
    // off-line outlier: residuals ≈ 0 on the line, large for the outlier
    val pts = (0 until 20).map { i =>
      val tpos = (i - 10).toDouble
      (i.toLong, Seq(0.6 * tpos, 0.8 * tpos, 0.0, 0.0).map(_.toFloat))
    } :+ (99L, Seq(0.0f, 0.0f, 5.0f, 0.0f))
    val df = pts.toDF("vec_id", "embedding")
    val r = Similarity.principalResidual(df, "vec_id", "embedding")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val onLine = (0 until 20).map(i => r(i.toLong))
    assert(onLine.max < 2.0, onLine.max) // centi-quantization floor only
    assert(r(99L) > 10 * onLine.max, (r(99L), onLine.max))
    // partition-invariant (fixed-point arithmetic end to end)
    val re = Similarity.principalResidual(df.repartition(5), "vec_id", "embedding")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(re == r)
  }

  test("indexProbe centroids cover the space: far-corner queries keep recall") {
    import spark.implicits._
    // a diagonal grid: lexicographic centroid selection would take the 10
    // lowest points, bunching every cell in the [0..9] corner — a query
    // at the far corner then probes cells that may not hold its true
    // neighbors. The hash-spread sample must keep the exact nearest
    // neighbor reachable from BOTH ends of the diagonal.
    val grid = (0 until 100).map(i => Seq(i.toDouble, i.toDouble)).toDF("v")
    def probedIds(q: Seq[Double]): Set[Int] =
      Similarity.indexProbe(grid, "v", q, nLists = 10, nProbe = 3)
        .collect().map(_.getSeq[Double](0).head.toInt).toSet
    val far = probedIds(Seq(95.0, 95.0))
    assert(far.contains(95), s"far-corner probe lost its exact nearest: $far")
    val near = probedIds(Seq(2.0, 2.0))
    assert(near.contains(2), s"low-corner probe lost its exact nearest: $near")
    // and it IS a probe, not a full scan
    assert(far.size < 100 && near.size < 100, (far.size, near.size))
  }

  test("pageRank: exact integer fixed point on cycle and chain graphs") {
    import spark.implicits._
    // 3-cycle: perfect symmetry ⇒ identical ranks at every iteration
    val cycle = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("s", "d", "w")
    val cr = Graph.pageRank(cycle, "s", "d", Some("w"), iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cr.values.toSet.size == 1, cr)
    // chain a→b→c: every value is a pinned integer (the recurrence is
    // exact, so these are equalities, not tolerances). a has no inbound
    // mass; b converges to 150000 + (150000·85 div 100); c to
    // 150000 + (277500·85 div 100).
    val chain = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("s", "d", "w")
    val kr = Graph.pageRank(chain, "s", "d", Some("w"), iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kr == Map("a" -> 150000L, "b" -> 277500L, "c" -> 385875L), kr)
    // weights steer the split: b gets 3/4 of a's outbound mass
    val fork = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("s", "d", "w")
    val fr = Graph.pageRank(fork, "s", "d", Some("w"), iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fr("b") == 150000L + (150000L * 85 / 100 * 3) / 4, fr)
    assert(fr("c") == 150000L + (150000L * 85 / 100 * 1) / 4, fr)
  }

  test("pageRank: long runs checkpoint-truncate lineage, same fixed point") {
    import spark.implicits._
    val chain = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("s", "d", "w")
    // the chain converges by iteration 3, so 50 checkpointed iterations
    // must land on the same exact integers as 10 lazy ones
    val long50 = Graph.pageRank(chain, "s", "d", Some("w"), iters = 50)
    val lr = long50.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lr == Map("a" -> 150000L, "b" -> 277500L, "c" -> 385875L), lr)
    // bounded plan depth: 50 iterations checkpointed every 20 leave at
    // most 10 live iterations of lineage, so the analyzed plan must be
    // SMALLER than a 12-iteration chain that never checkpoints — if the
    // truncation regressed, the 50-iter plan grows ~4x past it instead
    val nodes50 = long50.queryExecution.analyzed.collect { case p => p }.size
    val lazy12 = Graph.pageRank(chain, "s", "d", Some("w"), iters = 12,
      checkpointEvery = 1000)
    val nodes12 = lazy12.queryExecution.analyzed.collect { case p => p }.size
    assert(nodes50 < nodes12,
      s"checkpointed 50-iter plan ($nodes50 nodes) should be smaller " +
        s"than lazy 12-iter plan ($nodes12 nodes)")
  }

  test("triangleCounts: K4, square+diagonal, direction/duplicate blindness") {
    import spark.implicits._
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = (for {
      Seq(u, v) <- Seq("a", "b", "c", "d").combinations(2).toSeq
    } yield (u, v)).toDF("s", "d")
    val kc = Graph.triangleCounts(k4, "s", "d")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kc == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L), kc)
    // square a-b-c-d-a with diagonal a-c: two triangles sharing edge a-c;
    // reversed duplicates, self-loops and repeated edges must not double
    val sq = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("a", "c"), ("c", "a"), ("a", "a"), ("d", "a")).toDF("s", "d")
    val sc = Graph.triangleCounts(sq, "s", "d")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sc == Map("a" -> 2L, "b" -> 1L, "c" -> 2L, "d" -> 1L), sc)
  }

  test("shortestHops: min hops on a directed graph with cycle, early stop, multi-source") {
    import spark.implicits._
    // a→b→c→a cycle plus c→d, e isolated from the sources
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("e", "e"), ("x", "e")).toDF("s", "d")
    val seed = Seq("a").toDF("n")
    val out = Graph.shortestHops(edges, "s", "d", seed, "n", maxHops = 20)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // cycle must not loop past the visited set; d found at 3; e/x unreachable
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3), out)
    // multi-source takes the min over seeds; maxHops truncates honestly
    val multi = Graph.shortestHops(edges, "s", "d",
        Seq("a", "c").toDF("n"), "n", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(multi == Map("a" -> 0, "c" -> 0, "b" -> 1, "d" -> 1), multi)
  }

  test("shortestHops: matches the recursive-CTE min over enumerated paths") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("b", "d"), ("d", "a"), ("c", "d"))
      .toDF("s", "d")
    edges.createOrReplaceTempView("sh_edges")
    val bfs = Graph.shortestHops(edges, "s", "d", Seq("a").toDF("n"), "n")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val cte = spark.sql("""WITH RECURSIVE reach(node, hops) AS (
        SELECT 'a', 0
        UNION ALL
        SELECT e.d, r.hops + 1 FROM reach r JOIN sh_edges e ON e.s = r.node
        WHERE r.hops < 6)
      SELECT node, min(hops) FROM reach GROUP BY node""")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(bfs == cte, s"bfs=$bfs cte=$cte")
  }

  test("MJPEG AVI frames decode through the real JDK JPEG codec (tolerance)") {
    import spark.implicits._
    // flat-color frames: JPEG is lossy but a constant field survives the
    // DCT nearly exactly — assert within 2/255 per channel
    val avi = operators.Multimodal.encodeMjpegAvi(16, 16, 4) { (f, _, _) =>
      (40 + f * 50, 200 - f * 40, 90)
    }
    val out = operators.Multimodal.sampleAviFrames(
      Seq((1L, avi)).toDF("media_id", "payload"), stride = 1)
      .orderBy("frame_idx").collect()
    assert(out.length == 4, out.length)
    out.zipWithIndex.foreach { case (r, f) =>
      assert(r.getInt(1) == f && r.getInt(2) == 16 && r.getInt(3) == 16)
      val (er, eg, eb) = ((40 + f * 50) / 255.0, (200 - f * 40) / 255.0, 90 / 255.0)
      assert(math.abs(r.getDouble(4) - er) < 2.0 / 255, s"frame $f r ${r.getDouble(4)} vs $er")
      assert(math.abs(r.getDouble(5) - eg) < 2.0 / 255, s"frame $f g ${r.getDouble(5)} vs $eg")
      assert(math.abs(r.getDouble(6) - eb) < 2.0 / 255, s"frame $f b ${r.getDouble(6)} vs $eb")
    }
    // a raw-DIB AVI with an odd width exercises the 4-byte row padding
    val raw = operators.Multimodal.encodeRawAvi(5, 3, 2)((f, x, y) =>
      (x * 40, y * 70, f * 100))
    val rr = operators.Multimodal.sampleAviFrames(
      Seq((2L, raw)).toDF("media_id", "payload"), stride = 1)
      .orderBy("frame_idx").collect()
    assert(rr.length == 2)
    // exact means: sum(x*40)/5 = 80, sum(y*70)/3 = 70, b = f*100
    assert(math.abs(rr(0).getDouble(4) - 80.0 / 255) < 1e-12)
    assert(math.abs(rr(0).getDouble(5) - 70.0 / 255) < 1e-12)
    assert(rr(0).getDouble(6) == 0.0 && math.abs(rr(1).getDouble(6) - 100.0 / 255) < 1e-12)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Multimodal, Similarity, TextOps}

/** Unit tests for the extension operators on tiny hand-built corpora with
  * known answers.
  */
class ExtSpec extends SparkSpecBase {

  private def tinyDocs() = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again today", "en", "s", 10L),
      (1L, "the quick brown fox jumps over the lazy dog again today", "en", "s", 10L), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat again today", "en", "s", 10L), // near dup of 0
      (3L, "completely different words appear inside this very unusual sentence here", "en", "s", 10L),
      (4L, "el gato y el perro y los pajaros es aqui", "es", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exact dedup keeps min doc_id and counts copies") {
    val r = Dedup.exactOn(tinyDocs()).collect()
    assert(r.map(_.getLong(0)).toSet == Set(0L, 2L, 3L, 4L))
    assert(r.find(_.getLong(0) == 0L).get.getLong(1) == 2L) // two copies
  }

  test("ngram jaccard finds the near-dup pair and not the unrelated doc") {
    val pairs = Dedup.ngramJaccardOn(tinyDocs()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical: J = 1.0
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram df-cap drops stop-shingle pairs but keeps discriminative near-dups") {
    import spark.implicits._
    // every doc shares the boilerplate header (a stop-shingle at scale);
    // docs 0/1 are real near-dups beyond it, 2/3 share ONLY the header
    val boiler = "terms of service apply here"
    val docs = Seq(
      (0L, s"$boiler alpha beta gamma delta epsilon zeta eta theta", "en", "s", 10L),
      (1L, s"$boiler alpha beta gamma delta epsilon zeta eta iota", "en", "s", 10L),
      (2L, s"$boiler one two three four five six seven eight", "en", "s", 10L),
      (3L, s"$boiler nine ten eleven twelve thirteen fourteen fifteen sixteen", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // uncapped: near-dup pair found (J = 10/12); boilerplate-only pairs
    // stay under tau here, but their index buckets still cost c² join work
    val exact = Dedup.ngramJaccardOn(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((0L, 1L)))
    // cap at df<=2: the header shingles (df=4) leave the index; the
    // near-dup pair survives on its discriminative shingles alone
    val capped = Dedup.ngramJaccardOn(docs, dfCap = Some(2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((0L, 1L)), s"near-dup pair lost under df-cap: $capped")
    assert(!capped.contains((2L, 3L)), s"boilerplate-only pair kept under df-cap: $capped")
  }

  test("minhash LSH verified pairs equal exact jaccard pairs on tiny corpus") {
    val exact = Dedup.ngramJaccardOn(tinyDocs()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshOn(tinyDocs()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact)
  }

  test("simhash: identical docs collide at hamming 0") {
    val r = Dedup.simhashOn(tinyDocs()).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(r.get((0L, 1L)).contains(0))
  }

  test("cosine top-k: orthogonal vs parallel vectors rank correctly") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0), // nearly parallel to 0
      (2L, Array(0.0f, 1.0f, 0.0f), 1), // orthogonal to 0
      (3L, Array(-1.0f, 0.0f, 0.0f), 2)) // opposite to 0
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.cosineTopKOn(e, nQueries = 1, k = 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    // neighbors of vec 0 ordered by id in output; check scores
    val m = r.toMap
    assert(math.abs(m(1L) - 0.993884) < 1e-6)
    assert(m(2L) == 0.0 && m(3L) == -1.0)
  }

  test("banded sign-LSH ANN returns a nonempty, high-recall neighbor set (ADVICE r1)") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val lsh = Similarity.annLshOn(e, nQueries = 10, k = 5, nBands = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH candidates must collide on the fixture data")
    val exact = Similarity.cosineTopKOn(e, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // deterministic hyperplanes → deterministic recall; require a real
    // overlap with the exact top-5 sets, not just any rows
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low (lsh=${lsh.size}, exact=${exact.size})")
  }

  test("binary chunk dedup: exact dup at 1.0, truncated copy at boundary, disjoint absent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // four distinct 64-byte blocks so the distinct-chunk sets don't
    // collapse (repeated content would dedup to one chunk hash)
    def block(c: Char) = c.toString * 64
    val full = block('a') + block('b') + block('c') + block('d')
    val media = Seq(
      (1L, full), (2L, full),                  // identical payloads
      (3L, block('a') + block('b')),           // truncated copy: 2 of 4 chunks
      (4L, block('x') + block('y')))           // disjoint
      .toDF("media_id", "s")
      .select(col("media_id"), col("s").cast("binary").as("payload"))
    val r = graft.ext.Multimodal.mediaChunkDedupOn(media, chunkBytes = 64, tau = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.toSet == Set((1L, 2L, 4L, 1.0), (1L, 3L, 2L, 0.5), (2L, 3L, 2L, 0.5)))
  }

  test("CDC chunking survives a one-byte insertion that breaks fixed-size chunking") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // deterministic high-entropy payload so boundary hashes vary
    val s = (0 until 500).map(i =>
      ('a' + (graft.functions.SketchHash.mix(i.toLong, 7) & 15)).toChar).mkString
    val media = Seq((1L, s), (2L, "X" + s)) // one byte inserted at the front
      .toDF("media_id", "raw")
      .select(col("media_id"), col("raw").cast("binary").as("payload"))
    // fixed-size chunks: every boundary after the insertion shifts, so
    // no 64-byte-aligned chunk survives — the pair is lost
    val fixed = graft.ext.Multimodal
      .mediaChunkDedupOn(media, chunkBytes = 64, tau = 0.3).collect()
    assert(fixed.isEmpty, s"fixed chunking unexpectedly matched: ${fixed.toSeq}")
    // content-defined boundaries re-synchronize within one chunk of the
    // insertion — the pair comes back with high overlap
    val cdc = graft.ext.Multimodal
      .mediaCdcDedupOn(media, mask = 64, tau = 0.3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(3)))
    assert(cdc.length == 1 && cdc.head._1 == 1L && cdc.head._2 == 2L,
      s"cdc pair missing: ${cdc.toSeq}")
    assert(cdc.head._3 >= 0.5, s"cdc overlap too low: ${cdc.head._3}")
    // the unsigned-low-bits boundary test (and its HUGEINT oracle replay)
    // is only sound for power-of-two masks — reject anything else early
    intercept[IllegalArgumentException] {
      graft.ext.Multimodal.mediaCdcDedupOn(media, mask = 3, tau = 0.3)
    }
  }

  test("sorted neighborhood: one prefix-key pass recovers the exact Jaccard pairs") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val snm = Dedup.sortedNeighborhoodOn(d, window = 4, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardOn(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture near-dups share their openings, so the single prefix pass
    // must find EVERY exact pair (the blind spot needs a changed prefix,
    // which the multi-pass note in the docstring covers)
    assert(snm == exact,
      s"SNM missed ${(exact -- snm).size} / found ${(snm -- exact).size} extra")
    assert(snm.nonEmpty, "fixture must contain near-dup pairs")
  }

  test("byte-histogram similarity: exact copy at 1.0, permutation-invariant, junk low") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = "the quick brown fox jumps over the lazy dog" * 4
    val media = Seq(
      (0L, base),
      (10L, base),                      // exact copy → cos 1.0
      (11L, base.reverse),              // same byte multiset → cos 1.0 (histogram invariant)
      (12L, "" * 40)) // disjoint byte values
      .toDF("doc_id", "text")
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("payload"))
    val r = graft.ext.Multimodal.mediaHistTopKOn(media, nQueries = 1, k = 3)
      .collect().map(x => (x.getLong(1), x.getDouble(2))).toMap
    assert(r(10L) == 1.0 && r(11L) == 1.0, s"copies not at 1.0: $r")
    assert(r(12L) < 0.1, s"disjoint bytes not near 0: $r")
  }

  test("keep-best: exactly one keeper per cluster, chosen by quality not id") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val r = Dedup.keepBestOn(d)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(3)))
    val byCluster = r.groupBy(_._2)
    byCluster.foreach { case (c, rows) =>
      assert(rows.count(_._3 == 1) == 1, s"cluster $c keeper count") }
    // the policy must actually differ from min-id canonicalization on
    // the fixture (otherwise the quality ranking is dead code)
    val multi = byCluster.filter(_._2.length > 1)
    assert(multi.nonEmpty, "fixture has no multi-doc clusters")
    val divergent = multi.values.count(rows =>
      rows.find(_._3 == 1).get._1 != rows.map(_._1).min)
    assert(divergent > 0, "quality argmax never diverged from min-id")
  }

  test("winnowing: shared ≥(w+k−1)-char substring shares a fingerprint, shift-robust") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val shared = "the quick brown fox jumps over" // 30 ≥ w+k−1 = 11 chars
    val d = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"zzzzzzzzzzzzzzzzz $shared qq"), // same substring, shifted 13 chars
      (3L, "completely different content with no overlap 0123456789"))
      .toDF("doc_id", "text")
    val fps = d.select($"doc_id", expr("winnow_hashes(text, 8, 4)"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // the Schleimer guarantee: the shared substring MUST surface a
    // common fingerprint regardless of its position (fixed-stride
    // chunking breaks exactly here)
    assert((fps(1L) intersect fps(2L)).nonEmpty, "guarantee violated")
    assert((fps(1L) intersect fps(3L)).isEmpty, "unrelated docs collide")
    val pairs = graft.ext.TextOps.winnowPairsOn(d, k = 8, w = 4, tau = 0.3,
        dfCap = 8, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), s"pairs: ${pairs.toSeq}")
  }

  test("DSIR sample: selection enriches the target language") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val picked = graft.ext.TextOps.dsirSampleOn(d, targetLang = "en", topK = 100)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(picked.size == 100)
    val langOf = d.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val enAll = langOf.values.count(_ == "en").toDouble / langOf.size
    val enPicked = picked.count(langOf(_) == "en").toDouble / picked.size
    // the whole point: importance weights must enrich the target slice
    // beyond its base rate (sf0.001 fixture: 0.386 base → 0.50 picked;
    // the margin scales with corpus size — sf0.01 nearly saturates)
    assert(enPicked > enAll + 0.05,
      s"no enrichment: picked $enPicked vs base $enAll")
  }

  test("LM surprisal: repeated trigrams score low, rare ones high; fixture splits") {
    import spark.implicits._
    // doc 1 is one trigram repeated (the model learns it — low surprisal);
    // doc 2 is all-distinct trigrams (every count is 1 — high surprisal)
    val d = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaa"),
      (2L, "bcdefghijklmnopqrstu")).toDF("doc_id", "text")
    val r = graft.ext.TextOps.lmSurprisalOn(d)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(1L) < r(2L),
      s"repeated-trigram doc must be less surprising: ${r(1L)} vs ${r(2L)}")
    // on the fixture corpus the 0.85 threshold must split — both classes
    // present (a degenerate all-keep/all-drop flag grades nothing)
    val keeps = graft.ext.TextOps.lmSurprisal(spark, sf())
      .select(org.apache.spark.sql.functions.col("keep"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(keeps == Set(0, 1), s"threshold does not split the corpus: $keeps")
  }

  test("IVF-PQ: ADC shortlist + exact re-rank reaches the cell-coverage bound") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val pq = Similarity.annIvfPqOn(e, iters = 2, pqIters = 2, nQueries = 10,
      k = 5, nprobe = 4, nSub = 16, subDim = 4, nCodes = 32, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pq.nonEmpty, "IVF-PQ returned no neighbors")
    // final distances are the EXACT fixed-point L2 of the re-rank, so
    // within a query they must be sorted once re-ordered by rank — and
    // recall vs the recall harness's own exact side must be real
    val rec = Similarity.annIvfPqRecallOn(e, iters = 2, pqIters = 2,
      nQueries = 10, k = 5, nprobe = 4, nSub = 16, subDim = 4,
      nCodes = 32, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rec.length == 10)
    val totalHits = rec.map(_._3).sum
    val totalExact = rec.map(_._2).sum
    assert(totalHits.toDouble / totalExact >= 0.5,
      s"IVF-PQ re-rank recall ${totalHits}/$totalExact below 0.5")
    rec.foreach { case (q, kx, h, bp) =>
      assert(bp == h * 10000 / kx, s"query $q recall_bp inconsistent") }
  }

  test("seeded IVF needs no label column and keeps real recall vs brute force") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    // the operator must run on a corpus WITHOUT a cluster column — that
    // was the point of replacing the label seeding (VERDICT r7 #3)
    val unlabeled = e.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding"))
    val ivf = Similarity.annIvfSeededOn(unlabeled, nSeeds = 5, iters = 2,
      nQueries = 10, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty, "seeded IVF returned no neighbors")
    val exact = Similarity.cosineTopKOn(e, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"seeded-IVF recall $recall too low (ivf=${ivf.size})")
  }

  test("knn graph: contiguous ranks, descending cosine, real recall vs brute force") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val g = Similarity.knnGraphOn(e, k = 3, nBands = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(g.nonEmpty)
    // per-vector: ranks run 1..m with cosine non-increasing
    g.groupBy(_._1).foreach { case (v, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq, s"vec $v ranks")
      assert(byRank.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4
        case _ => true
      }, s"vec $v cosine not descending")
    }
    // graph edges for the first 10 vectors overlap the exact top-3
    val exact = Similarity.cosineTopKOn(e, nQueries = 10, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = g.filter(_._1 < 10).map(t => (t._1, t._3)).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"knn-graph recall $recall too low")
  }

  test("pagerank: teleport floor, star-center authority, isolated mass") {
    import spark.implicits._
    // explicit star graph: 1–2, 1–3, 1–4; 5 isolated (text-derived pair
    // graphs from shared-base fixtures come out as cliques, so the edge
    // set is given directly via pagerankFrom — same entry the text form
    // composes with)
    val d = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val pr = Dedup.pagerankFrom(d, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pr.size == 5)
    val scale = 1000000000000L
    val teleport = (15L * (scale / 5)) / 100L
    // isolated doc keeps exactly the teleport mass, zero neighbors
    assert(pr(5L) == ((teleport, 0L)), pr(5L).toString)
    // every rank at least the teleport floor; total mass bounded by scale
    assert(pr.values.forall(_._1 >= teleport))
    assert(pr.values.map(_._1).sum <= scale)
    // the star center out-ranks every leaf (leaves split their mass to
    // the center; the center's mass splits three ways back)
    val (centerRank, centerDeg) = pr(1L)
    assert(centerDeg == 3, pr.toString)
    Seq(2L, 3L, 4L).foreach(l => assert(centerRank > pr(l)._1, pr.toString))
    assert(Seq(2L, 3L, 4L).map(pr(_)._1).distinct.size == 1, pr.toString)
  }

  test("quality score: logit reproduces from the stats features, keep = logit > 0") {
    val docs = graft.engine.Tables.load(spark, sf(), "documents")
    val scored = TextOps.qualityScoreOn(docs)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val feats = TextOps.statsOn(docs).collect()
    assert(feats.nonEmpty && scored.nonEmpty)
    feats.foreach { r =>
      val nTok = r.getInt(2).toDouble
      val ttr = r.getDouble(4)
      val stopRatio = r.getDouble(7)
      val meanTokLen = r.getDouble(8)
      val logit = -2.5 + nTok * 0.01 + ttr * 1.5 + stopRatio * 6.0 + meanTokLen * 0.08
      val (gotLogit, gotKeep) = scored(r.getLong(0))
      assert(math.abs(gotLogit - logit) < 1e-6, s"doc ${r.getLong(0)}")
      assert(gotKeep == (if (logit > 0.0) 1 else 0))
    }
  }

  test("hashed classifier: logit equals the explicit explode-and-sum, dups tie") {
    val r = TextOps.classifierHashedOn(tinyDocs())
    val rows = r.collect().map(x =>
      x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getInt(3))).toMap
    assert(rows.size == 5)
    // exact duplicate docs get the identical feature bag and logit
    assert(rows(0L) == rows(1L))
    // keep is exactly the sign of the logit
    rows.values.foreach { case (_, logit, keep) =>
      assert(keep == (if (logit > 0) 1 else 0)) }
    // the scan-side HOF fold agrees with an explicit explode + groupBy
    // recomputation of the same hashed weights (different plan, same math)
    val explicit = tinyDocs()
      .select(col("doc_id"), explode(expr("word_ngrams(text, 2)")).as("g"))
      .withColumn("w8", expr("pmod(mix64(pmod(roll_hash31(g), 65536)), 8) - 4"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_feat"), sum(col("w8")).as("logit"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    rows.foreach { case (id, (nFeat, logit, _)) =>
      assert(explicit(id) == ((nFeat, logit)), s"doc $id") }
  }

  test("span corruption is lossless: substituting each sentinel's target rebuilds the doc") {
    val docs = graft.engine.Tables.load(spark, sf(), "documents")
    val rows = TextOps.spanCorruptOn(docs).collect()
    assert(rows.nonEmpty)
    val original = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var sawMask = false
    rows.foreach { r =>
      val (id, nTok, nMasked, nSpans) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val corrupted = r.getString(4)
      val target = r.getString(5)
      if (nSpans > 0) sawMask = true
      // parse the target into sentinel -> masked tokens
      val spans = scala.collection.mutable.Map[String, List[String]]()
      var cur: String = null
      target.split(" ").filter(_.nonEmpty).foreach { tok =>
        if (tok.startsWith("<extra_id_")) { cur = tok; spans(cur) = Nil }
        else spans(cur) = spans(cur) :+ tok
      }
      assert(spans.size == nSpans, s"doc $id")
      assert(spans.values.map(_.size).sum == nMasked, s"doc $id")
      // substitute each sentinel back: must reproduce the original text
      val rebuilt = corrupted.split(" ").filter(_.nonEmpty).flatMap { tok =>
        if (tok.startsWith("<extra_id_")) spans(tok) else List(tok)
      }.mkString(" ")
      assert(rebuilt == original(id), s"doc $id failed round-trip")
      assert(rebuilt.split(" ").length.toLong == nTok, s"doc $id")
      // sentinels are numbered in order of appearance
      val order = corrupted.split(" ").filter(_.startsWith("<extra_id_"))
      assert(order.toSeq == (0L until nSpans).map(k => s"<extra_id_$k>"), s"doc $id")
    }
    assert(sawMask, "fixture produced no masked docs")
  }

  test("novelty curve: cross-batch dups counted against the later batch only") {
    import spark.implicits._
    // batch = doc_id % 3. docs 0 (b0) and 1 (b1) are near-dups: 1 is
    // prior-dup, 0 is novel. docs 2 (b2) and 5 (b2) are near-dups of each
    // other WITHIN the batch: both stay novel. 3, 4 unique.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base, "en", "s", 1L),
      (1L, base + " lambda", "en", "s", 1L),
      (2L, "one two three four five six seven eight nine ten", "en", "s", 1L),
      (3L, "red orange yellow green blue indigo violet pink brown black", "en", "s", 1L),
      (4L, "cat dog bird fish horse cow sheep goat pig duck", "en", "s", 1L),
      (5L, "one two three four five six seven eight nine eleven", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.noveltyCurveOn(docs, nBatches = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((2L, 0L, 10000L)))  // docs 0, 3 — both novel
    assert(got(1L) == ((2L, 1L, 5000L)))   // docs 1 (dup of 0), 4
    assert(got(2L) == ((2L, 0L, 10000L)))  // docs 2, 5 — same-batch dups stay novel
  }

  test("substring scrub: shared runs removed, order kept, full-boilerplate goes empty") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a1 a2 a3 a4 a5 a6 a7 a8 tailx taily", "en", "s", 1L),
      (1L, "head1 head2 a1 a2 a3 a4 a5 a6 a7 a8", "en", "s", 1L),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "en", "s", 1L),
      (3L, "a1 a2 a3 a4 a5 a6 a7 a8", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.substringScrubOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((10L, 8L, "tailx taily")))
    assert(got(1L) == ((10L, 8L, "head1 head2")))
    assert(got(2L) == ((9L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")))
    assert(got(3L) == ((8L, 8L, "")))
  }

  test("BPE learn: greedy non-overlap counts, lexicographic ties, merged symbols compose") {
    import spark.implicits._
    val docs = Seq(
      (0L, "x x x x y", "en", "s", 9L),
      (1L, "x y x y z", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.bpeLearnOn(docs, rounds = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      // (x,x) ties (x,y) at 3 — lexicographic pick; the run of 3
      // overlapping occurrences applies only 2 merges (1st and 3rd)
      (1, "x", "x", 3L, 2L),
      (2, "x", "y", 2L, 2L),
      // merged symbols are first-class: round 3 merges two "x x" units
      (3, "x x", "x x", 1L, 1L),
      (4, "x x x x", "y", 1L, 1L)))
  }

  test("shard shuffle: a balanced deterministic permutation, layout-independent") {
    val docs = graft.engine.Tables.load(spark, sf(), "documents")
    val n = docs.count()
    val out = TextOps.shardShuffleOn(docs, nShards = 8).collect()
    assert(out.length == n)
    // every doc exactly once; (shard, pos) is a unique address
    assert(out.map(_.getLong(2)).distinct.length == n)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).distinct.length == n)
    // positions are contiguous 1..size within each shard, all shards in use
    val byShard = out.groupBy(_.getLong(0))
    assert(byShard.keySet == (0L to 7L).toSet)
    byShard.foreach { case (s, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq, s"shard $s") }
    // hash balance: no shard more than 2x the ideal share
    assert(byShard.values.map(_.length).max <= 2 * (n / 8).toInt)
    // input partitioning must not change the permutation
    val re = TextOps.shardShuffleOn(docs.repartition(13), nShards = 8).collect()
    assert(re.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("cosine near-dup (banded LSH + exact verify) is nonempty and precise (ADVICE r1)") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val got = Similarity.cosineNearDupOn(e, tau = 0.4, nBands = 16, bandBits = 4).collect()
    assert(got.nonEmpty, "fixture has 66 pairs with cos >= 0.4 at sf0.001")
    // precision is exact by construction (candidates verified with cosine_f32)
    assert(got.forall(_.getDouble(2) >= 0.4))
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("dedup clustering: connected components over near-dup pairs") {
    import spark.implicits._
    // docs 1-2-3 form a chain of near-dups (1~2, 2~3 but 1!~3 directly);
    // 4 is a singleton — components must chain transitively
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val d = Seq(
      (1L, base),
      (2L, base + " tonight"),                      // ~ 1
      (3L, "x y z " + base + " tonight"),           // ~ 2, less similar to 1
      (4L, "completely different words entirely unrelated to anything else here now"))
      .toDF("doc_id", "text")
    val r = Dedup.dedupClustersOn(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getInt(3))).toMap
    assert(r(1L) == (1L, 3L, 1) && r(2L) == (1L, 3L, 0) && r(3L) == (1L, 3L, 0))
    assert(r(4L) == (4L, 1L, 1))
    // the LSH-edged scale form agrees with the exact form here
    val lsh = Dedup.dedupClustersLsh(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getInt(3))).toMap
    assert(lsh == r)
  }

  test("big-star clustering equals label propagation, incl. a long chain") {
    import spark.implicits._
    // same chain corpus as above PLUS a second, longer chain — star
    // contraction must produce exactly the label-propagation components
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val b2 = "pack my box with five dozen liquor jugs while the band plays on tonight"
    val d = Seq(
      (1L, base),
      (2L, base + " tonight"),
      (3L, "x y z " + base + " tonight"),
      (4L, "completely different words entirely unrelated to anything else here now"),
      (10L, b2), (11L, b2 + " ok"), (12L, "a b c " + b2 + " ok"),
      (13L, "a b c d e f " + b2 + " ok"))
      .toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getInt(3))).toMap
    val prop = asMap(Dedup.dedupClustersOn(d))
    val star = asMap(Dedup.dedupClustersBigStar(d))
    assert(star == prop, s"big-star diverged:\n$star\nvs\n$prop")
    assert(star(10L)._1 == 10L && star(13L)._1 == 10L) // second chain united
  }

  test("big-star handles an edgeless corpus (all singletons)") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val r = Dedup.dedupClustersBigStar(d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 1L, 1L), (2L, 2L, 1L)))
  }

  test("substring dedup: shared 8-token windows flag the run-sharing docs only") {
    import spark.implicits._
    val run = "one two three four five six seven eight nine ten" // 10-token shared run
    val d = Seq(
      (1L, s"intro words here $run trailing bits"),
      (2L, s"$run totally different ending material"),
      (3L, "unrelated content with plenty of tokens but no shared runs at all today"))
      .toDF("doc_id", "text")
    val r = Dedup.substringDedupOn(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getInt(4))).toMap
    // a 10-token shared run contains 3 complete 8-token windows
    assert(r(1L)._2 == 3L && r(2L)._2 == 3L, r.toString)
    assert(r(1L)._3 == 1 && r(2L)._3 == 1) // both over the 20% bar
    assert(r(3L)._2 == 0L && r(3L)._3 == 0)
    r.values.foreach { case (n, s, _) => assert(s <= n) }
  }

  test("repetition rules: phrase-looped doc flags, diverse doc does not") {
    import spark.implicits._
    val looped = Seq.fill(12)("buy cheap pills").mkString(" ") // one dominant bigram
    // long enough that the floor 1/(n_bigrams) sits under the 0.08 bar —
    // all-distinct tokens give top_bigram_frac = 1/(n−1)
    val diverse = ('a' to 'z').map(c => s"word$c").mkString(" ")
    val d = Seq((1L, looped), (2L, diverse)).toDF("doc_id", "text")
    val r = TextOps.repetitionOn(d).collect()
      .map(x => x.getLong(0) -> (x.getDouble(3), x.getDouble(5), x.getInt(6))).toMap
    assert(r(1L)._3 == 1, s"looped doc not flagged: ${r(1L)}")
    assert(r(2L)._3 == 0, s"diverse doc flagged: ${r(2L)}")
    assert(r(1L)._1 > r(2L)._1) // top-bigram fraction orders them
    r.values.foreach { case (a, b, _) =>
      assert(a >= 0 && a <= 1 && b >= 0 && b <= 1) }
  }

  test("semantic dedup keep-list: near-identical vectors cluster, min id kept") {
    import spark.implicits._
    val dir = sf()
    val r = graft.ext.Similarity.semanticDedup(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3)))
    assert(r.nonEmpty)
    // exactly one keeper per cluster, and it is the cluster minimum
    val byCluster = r.groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      val keepers = rows.filter(_._4 == 1).map(_._1)
      assert(keepers.toSeq == Seq(cid), s"cluster $cid keepers: ${keepers.toSeq}")
      assert(cid == rows.map(_._1).min)
      rows.foreach { row => assert(row._3 == rows.size) }
    }
    // the corpus has real near-dups: something must actually be dropped
    assert(r.exists(_._4 == 0), "no vector was dropped — vacuous keep-list")
  }

  test("bloom_might_contain: no false negatives; bloom contamination equals exact") {
    import spark.implicits._
    // expression level: every inserted item must probe true (bloom
    // guarantee the prefilter's exactness argument rests on)
    val items = (1 to 200).map(i => s"item$i")
    val bloom = items.toDF("s").stat.bloomFilter("s", 256L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bytes = bos.toByteArray
    val hits = items.toDF("s")
      .filter(call_function("bloom_might_contain", lit(bytes), col("s")))
      .count()
    assert(hits == items.size, s"false negatives: ${items.size - hits}")
    // operator level: bloom-prefiltered contamination ≡ exact contamination
    val dir = sf()
    val exact = TextOps.contamination(spark, dir).collect().map(_.toSeq).toSeq
    val bloomed = TextOps.contaminationBloom(spark, dir).collect().map(_.toSeq).toSeq
    assert(bloomed == exact)
    assert(exact.nonEmpty) // non-vacuous on the corpus
  }

  test("cms_estimate: one-sided error; cms heavy hitters equal exact group-by") {
    import spark.implicits._
    // expression level: the estimate must never undercount — the property
    // the prefilter's exactness argument rests on
    val toks = (1 to 500).flatMap(i => Seq.fill(i % 7 + 1)(s"tok${i % 40}"))
    val df = toks.toDF("t")
    val cms = df.stat.countMinSketch("t", 0.001, 0.99, 7)
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    val bytes = bos.toByteArray
    val under = df.groupBy("t").agg(count(lit(1)).as("cnt"))
      .filter(call_function("cms_estimate", lit(bytes), col("t")) < col("cnt"))
      .count()
    assert(under == 0L, s"$under tokens undercounted by the sketch")
    // operator level: sketch-prefiltered heavy hitters ≡ plain exact
    // group-by + HAVING at the same relative threshold
    val dir = sf()
    val got = TextOps.heavyHitters(spark, dir).collect().map(_.toSeq).toSeq
    val docs = graft.engine.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    val total = docs.count()
    val t = (total + 999L) / 1000L
    val want = docs.groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(t))
      .orderBy(col("cnt").desc, col("token")).collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(got.nonEmpty) // non-vacuous on the corpus
  }

  test("sketch expressions: shingle_hashes dedups + simhash64 majority bits + aggregate twins") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b c a b c"), (3L, "x y")).toDF("doc_id", "text")
    df.createOrReplaceTempView("sketch_docs")
    val rows = spark.sql(
      "SELECT doc_id, shingle_hashes(text) AS ss, simhash64(text) AS sim FROM sketch_docs")
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(rows(1L)._1.length == 2) // "a b c", "b c d"
    // "a b c a b c" → shingles {abc, bca, cab, abc} → 3 distinct
    assert(rows(2L)._1.length == 3)
    assert(rows(3L)._1.isEmpty) // < 3 tokens
    // identical docs get identical signatures; the aggregate twin
    // (simhash_sig over exploded token hashes) must not disagree in
    // Hamming by construction when fed the same hash family — here we
    // just check the aggregates run and are deterministic
    val agg = spark.sql(
      """SELECT doc_id, simhash_sig(h) AS s, minhash_sig(h) AS mh FROM (
        |  SELECT doc_id, xxhash64(t) AS h FROM (
        |    SELECT doc_id, explode(split(text, ' ')) AS t FROM sketch_docs))
        |GROUP BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toList
    assert(agg.length == 3 && agg.forall(_._3.length == 64))
    val again = spark.sql(
      "SELECT simhash_sig(xxhash64(t)) FROM (SELECT explode(split('a b c', ' ')) AS t)")
      .head().getLong(0)
    assert(again == spark.sql(
      "SELECT simhash_sig(xxhash64(t)) FROM (SELECT explode(split('a b c', ' ')) AS t)")
      .head().getLong(0))
  }

  test("text stats: token counts on a known string") {
    import spark.implicits._
    val d = Seq((7L, "the cat the cat runs", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.statsOn(d).collect().head
    assert(r.getAs[Int]("n_tokens") == 5)
    assert(r.getAs[Int]("n_uniq") == 3)
    assert(r.getAs[Int]("n_stop") == 2) // 'the' twice
    assert(math.abs(r.getAs[Double]("ttr") - 0.6) < 1e-12)
  }

  test("langid picks the profile with most stopword hits") {
    val r = TextOps.langIdOn(tinyDocs()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(r(0L) == "en") // 'the' twice
    assert(r(4L) == "es") // el/y/los/es hits
  }

  test("fingerprints are stable and distinguish texts") {
    val r = TextOps.fingerprintOn(tinyDocs()).collect()
    val byId = r.map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(byId(0L) == byId(1L)) // identical text, identical fingerprints
    assert(byId(0L) != byId(2L))
    // rolling hash: h("ab") = (0*31+97)*31+98 mod 1e9+7 = 3105
    import spark.implicits._
    val ab = TextOps.fingerprintOn(
      Seq((0L, "ab", "en", "s", 2L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
      .collect().head.getLong(2)
    assert(ab == 97L * 31 + 98)
  }

  test("multimodal: decode stub + feature extraction through mapPartitions") {
    import spark.implicits._
    val items = Seq(
      Multimodal.MediaItem(1L, "img/fake", Array[Byte](1, 2, 3), 2, 2),
      Multimodal.MediaItem(2L, "img/fake", Array[Byte](), 0, 0)).toDS()
    val f = Multimodal.extractFeatures(items).collect().map(x => x.media_id -> x).toMap
    assert(f(1L).n_bytes == 3 && f(1L).checksum == 6L && math.abs(f(1L).mean_byte - 2.0) < 1e-12)
    assert(f(2L).n_bytes == 0 && f(2L).checksum == 0L)
  }

  test("multimodal: resize stub downsamples payload and metadata") {
    import spark.implicits._
    val items = Seq(Multimodal.MediaItem(1L, "img/fake",
      Array.tabulate[Byte](100)(_.toByte), 10, 10)).toDS()
    val r = Multimodal.resizeStub(items, factor = 2).collect().head
    assert(r.payload.length == 50 && r.width == 5 && r.height == 5)
    assert(r.payload(1) == 2.toByte) // kept every 2nd byte
  }

  test("sqlapi QueryEngine: sql + explain over a registered catalog") {
    val qe = new graft.sqlapi.QueryEngine(spark)
    val csv = java.nio.file.Files.createTempFile("qe", ".csv")
    java.nio.file.Files.writeString(csv, "id,v\n1,2.5\n2,3.5\n")
    qe.catalog.registerCsv("qe_t", csv.toString)
    val rows = qe.sql("SELECT id, v * 2 AS v2 FROM qe_t ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 5.0), (2L, 7.0)))
    val plan = qe.explain("SELECT COUNT(*) FROM qe_t")
    assert(plan.contains("Optimized Logical Plan") && plan.contains("Physical Plan"))
    assert(qe.sql("SELECT cosine_f32(array(cast(1.0 as float)), array(cast(1.0 as float)))")
      .collect().head.getDouble(0) == 1.0)
  }

  test("sqlapi: snapshot versions register as tables — SQL over time travel") {
    import spark.implicits._
    val qe = new graft.sqlapi.QueryEngine(spark)
    val dir = s"${graft.engine.WorkDirs.processScoped("graft_test_snapsql")}/t"
    graft.engine.Snapshots.commit(
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), dir, append = false)
    graft.engine.Snapshots.commit(
      Seq((3L, 30.0)).toDF("id", "v"), dir, append = true)
    qe.catalog.registerSnapshot("t_v0", dir, version = 0)
    qe.catalog.registerSnapshot("t_latest", dir)
    assert(qe.sql("SELECT COUNT(*) FROM t_v0").head.getLong(0) == 2L)
    assert(qe.sql("SELECT SUM(v) FROM t_latest").head.getDouble(0) == 60.0)
    // plain SQL diffs history across the two registrations
    val added = qe.sql(
      "SELECT id FROM t_latest WHERE id NOT IN (SELECT id FROM t_v0) ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(added == Seq(3L))
    assert(qe.catalog.describe("t_v0").isDefined)
  }

  test("multimodal: frame sampling strides over payload") {
    import spark.implicits._
    val payload = Array.fill[Byte](5000)(7)
    val items = Seq(Multimodal.MediaItem(1L, "vid/fake", payload, 0, 0)).toDS()
    val frames = Multimodal.sampleFrames(items, stride = 2).collect()
    // chunks 0,1,2,3,4 (last partial) -> sampled 0,2,4
    assert(frames.map(_.getInt(1)).toSet == Set(0, 2, 4))
    assert(frames.forall(_.getInt(3) == 7))
  }

  test("cross-corpus decontaminate flags only train-vs-eval near-dups") {
    import spark.implicits._
    val docs = Seq(
      // train 0 ≈ eval 10 (near dup), train 1 ≈ train 2 (same-corpus dup:
      // must NOT be reported), eval 11 unrelated to everything
      (0L, "the quick brown fox jumps over the lazy dog again today", "en", "train", 10L),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "train", 10L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en", "train", 10L),
      (10L, "the quick brown fox jumps over the lazy cat again today", "en", "eval", 10L),
      (11L, "completely different words appear inside this very unusual sentence", "en", "eval", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.decontaminateOn(docs, col("source") === "eval")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r == Set((0L, 10L)), s"got $r")
  }

  test("triangle counts: each 3-clique counted once per member, wedges without closure don't count") {
    import spark.implicits._
    // graph: clique {1,2,3} (one triangle), path 4-5-6 (open wedge, none),
    // and {1,2,3,7} where 7 connects to 1 and 2 only → second triangle 1-2-7
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (5L, 6L), (1L, 7L), (2L, 7L))
      .toDF("doc_a", "doc_b")
    val r = Dedup.trianglesFrom(pairs).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 7L -> 1L), r.toString)
  }

  test("fixed-point centroids are the exact truncated integer means") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(0.5f, -0.25f), 0),
      (1L, Array(0.25f, 0.25f), 0),
      (2L, Array(-1.0f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidsOn(e).collect()
      .map(x => ((x.getInt(0), x.getInt(1)), (x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // label 0 dim 0: 500000 + 250000 = 750000, /2 = 375000
    assert(r((0, 0)) == ((750000L, 2L, 375000L)))
    // label 0 dim 1: -250000 + 250000 = 0
    assert(r((0, 1)) == ((0L, 2L, 0L)))
    assert(r((1, 0)) == ((-1000000L, 1L, -1000000L)))
  }

  test("kmeans loop converges on the tiny fixture (3 iters == 4 iters)") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.1f), 0),
      (1L, Array(0.9f, -0.1f), 0),
      (2L, Array(-1.0f, 0.1f), 1),
      (3L, Array(0.95f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    def labels(iters: Int) = Similarity.kmeansItersOn(e, iters).collect()
      .map(x => (x.getLong(0), x.getInt(2))).toMap
    val l3 = labels(3)
    assert(l3 == labels(4), "assignments not converged after 3 rounds")
    // the mislabeled vector ended in the right cluster and stayed there
    assert(l3(3L) == 0 && l3(2L) == 1)
  }

  test("containment flags a doc embedded in a larger one that Jaccard misses") {
    import spark.implicits._
    val small = (1 to 20).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (100 to 170).map(i => s"pad$i").mkString(" ")
    val other = (200 to 240).map(i => s"oth$i").mkString(" ")
    val d = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentOn(d, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every shingle of doc 1 appears in doc 2 → containment 1.0, one
    // direction only (doc 2 is NOT contained in doc 1)
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.mkString(","))
    // symmetric Jaccard misses the pair: J = |A|/|B| ≈ 0.2 < 0.5
    val jac = Dedup.ngramJaccardOn(d).collect()
    assert(jac.isEmpty, jac.mkString(","))
  }

  test("product quantization: per-subspace codes pick the nearest codeword independently") {
    import spark.implicits._
    // 4-dim vectors, 2 subspaces × 2 dims. Codebooks are per-label
    // truncated means: label 0 ≈ (1,0 | 0,0), label 1 ≈ (-1,0 | 1,1).
    // vec 4 is built MIXED: first subspace near label 0's codeword,
    // second near label 1's — PQ must encode them independently (the
    // whole point of product codes vs a single quantizer).
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.0f, 1.0f, 1.0f), 1),
      (3L, Array(-1.0f, 0.0f, 1.0f, 1.0f), 1),
      (4L, Array(0.9f, 0.0f, 0.9f, 0.9f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizePqOn(e, nSub = 2, subDim = 2).collect()
      .map(x => ((x.getLong(0), x.getInt(1)), (x.getInt(2), x.getLong(3)))).toMap
    assert(r((4L, 0))._1 == 0, s"subspace 0 should code to label 0: $r")
    assert(r((4L, 1))._1 == 1, s"subspace 1 should code to label 1: $r")
    // pure-cluster vectors code to their own label in every subspace,
    // and 8 (vec, subspace) rows exist with nonnegative errors
    for (v <- 0L to 1L; s <- 0 to 1) assert(r((v, s))._1 == 0)
    for (v <- 2L to 3L; s <- 0 to 1) assert(r((v, s))._1 == 1)
    assert(r.size == 10 && r.values.forall(_._2 >= 0L))
  }

  test("stratified split: exact 80/10/10 per stratum, deterministic") {
    val a = graft.ext.TextOps.splitStratified(spark, sf()).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    // per language: train = floor(.8n), val = floor(.9n)-floor(.8n),
    // test = n - floor(.9n) — rank-based split is EXACTLY proportioned
    val perLang = a.groupBy(_._1._1).view.mapValues(_.values.map(_._1).sum)
    perLang.foreach { case (lang, n) =>
      assert(a((lang, "train"))._1 == n * 8 / 10, s"$lang train")
      assert(a((lang, "val"))._1 == n * 9 / 10 - n * 8 / 10, s"$lang val")
      assert(a((lang, "test"))._1 == n - n * 9 / 10, s"$lang test")
    }
    // deterministic: a second run reproduces every checksum
    val b = graft.ext.TextOps.splitStratified(spark, sf()).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(a == b)
  }

  test("kmeans step reassigns a mislabeled vector to the nearer centroid") {
    import spark.implicits._
    // cluster A near (1, 0); cluster B near (-1, 0); vec 3 carries label 1
    // but sits in cluster A — one assignment step must move it
    val e = Seq(
      (0L, Array(1.0f, 0.1f), 0),
      (1L, Array(0.9f, -0.1f), 0),
      (2L, Array(-1.0f, 0.1f), 1),
      (3L, Array(0.95f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.kmeansStepOn(e).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(4))).toList
    val byId = r.map(t => t._1 -> t).toMap
    assert(byId(3L)._3 == 0 && byId(3L)._4 == 1, s"vec 3 should move to label 0: $r")
    assert(byId(0L)._3 == 0 && byId(1L)._3 == 0 && byId(0L)._4 == 0)
    // distances are nonnegative and the move count is exactly 1... vec 2
    // stays: its own label's centroid is dragged toward A by vec 3, but
    // it remains nearer to B's centroid than to A's
    assert(r.map(_._4).sum == 1)
  }

  test("silhouette: tight well-separated clusters score near +1, all well-assigned") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.1f), 0),
      (1L, Array(0.9f, -0.1f), 0),
      (2L, Array(-1.0f, 0.1f), 1),
      (3L, Array(-0.9f, -0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.silhouetteOn(e).collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    // every vector sits closer to its own centroid than to the other's
    assert(r(0) == ((2L, 2L, r(0)._3)) && r(1)._1 == 2L && r(1)._2 == 2L)
    // s·10⁶ summed over 2 members ≈ 2e6 for clean separation (a ≈ 0.01,
    // b ≈ 3.6 on the unit grid → s ≈ 0.997 each)
    assert(r(0)._3 > 1900000L && r(1)._3 > 1900000L, r.toString)
  }

  test("silhouette: a straddling vector drags n_well and the score down") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      // labeled 0 but sitting on cluster 1's centroid
      (2L, Array(-1.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.1f), 1),
      (4L, Array(-1.0f, -0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.silhouetteOn(e).collect()
      .map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(0)._1 == 3L && r(0)._2 == 2L, s"mislabeled vec should not be well-assigned: $r")
  }

  test("label spreading: seeds clamp, non-seeds adopt the cluster seed's label") {
    import spark.implicits._
    // seeds are vec_id % 5 == 0: vec 0 seeds cluster A (label 7), vec 5
    // seeds cluster B (label 3); non-seeds carry a junk label that must
    // be ignored (only seed labels may spread)
    def a(x: Float, y: Float) = Array(x, y, 0.3f, -0.2f)
    val e = Seq(
      (0L, a(1.0f, 0.1f), 7),
      (1L, a(1.0f, 0.1f), 9),
      (2L, a(1.0f, 0.1f), 9),
      (5L, a(-1.0f, 0.4f), 3),
      (6L, a(-1.0f, 0.4f), 9),
      (7L, a(-1.0f, 0.4f), 9))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.labelSpreadOn(e, k = 2, nBands = 16, bandBits = 8,
        rounds = 2).collect()
      .map(x => (x.getLong(0), (x.getInt(1), x.getInt(2)))).toMap
    assert(r(0L) == ((1, 7)) && r(5L) == ((1, 3)), s"seeds must clamp: $r")
    assert(r(1L) == ((0, 7)) && r(2L) == ((0, 7)), s"cluster A spread: $r")
    assert(r(6L) == ((0, 3)) && r(7L) == ((0, 3)), s"cluster B spread: $r")
  }

  test("phash: near-identical payloads pair up, inverted payload stays out") {
    import spark.implicits._
    val base = Array.tabulate(160)(i => ((i * 37 + 11) % 251).toByte)
    val nearDup = base.clone()
    nearDup(10) = (nearDup(10) + 1).toByte
    nearDup(80) = (nearDup(80) + 1).toByte
    val inverted = base.map(b => (250 - (b & 0xff)).toByte)
    val media = Seq((1L, base), (2L, nearDup), (3L, inverted))
      .toDF("media_id", "payload")
    val pairs = Multimodal.mediaPhashDedupOn(media, tau = 6).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 6),
      s"near-dup pair missing: ${pairs.toList}")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      s"inverted payload must not pair: ${pairs.toList}")
  }

  test("incremental clustering == from-scratch, including a new doc bridging two old components") {
    import spark.implicits._
    // two separate old near-dup clusters {0,2} and {5,7}; new doc 18
    // shares shingles with BOTH (the merge case incremental paths get
    // wrong first), new doc 19 is a singleton, new doc 8... old ids are
    // % 10 < 8, new are % 10 >= 8
    // the two old clusters sit on overlapping token ranges (J(a,b) =
    // 0.38, below tau) and the bridge overlaps both at J = 0.64
    val a = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val b = (9 to 28).map(i => s"alpha$i").mkString(" ")
    val bridge = (5 to 24).map(i => s"alpha$i").mkString(" ")
    val docsDf = Seq(
      (0L, a), (2L, a + " tail0"), (5L, b), (7L, b + " tail1"),
      (3L, (1 to 12).map(i => s"gamma$i").mkString(" ")), // old singleton
      (18L, bridge), (19L, (1 to 12).map(i => s"delta$i").mkString(" ")))
      .toDF("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    val inc = Dedup.dedupClustersIncremental(docsDf, isNew).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.dedupClustersBigStarFrom(docsDf,
      Dedup.minhashLshOn(docsDf).select(col("doc_a"), col("doc_b"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"incremental $inc != full $full")
    // the bridge really merged the two old components under the global min
    assert(inc(18L) == 0L && inc(5L) == 0L && inc(7L) == 0L && inc(2L) == 0L)
    // untouched docs kept their clusters; singletons stayed singletons
    assert(inc(3L) == 3L && inc(19L) == 19L)
  }

  test("chunk containment catches a truncated copy that chunk Jaccard misses") {
    import spark.implicits._
    val big = Array.tabulate(640)(i => ((i * 13 + 5) % 251).toByte)
    val prefix = big.take(128) // 2 of big's 10 chunks
    val other = Array.tabulate(640)(i => ((i * 17 + 3) % 251).toByte)
    val media = Seq((1L, big), (2L, prefix), (3L, other))
      .toDF("media_id", "payload")
    val cont = Multimodal.mediaChunkContainmentOn(media, chunkBytes = 64,
        tau = 0.9).collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(cont.toSet == Set((1L, 2L)), cont.toList.toString)
    // the same pair fails the Jaccard gate at the same strictness: the
    // union denominator dilutes a short prefix (2/10 here)
    val jac = Multimodal.mediaChunkDedupOn(media, chunkBytes = 64, tau = 0.9)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(!jac.contains((1L, 2L)), jac.toList.toString)
  }

  test("hll rolling: sketch estimate stays inside the 3-sigma bound on real data") {
    val r = graft.streaming.Events.hllRolling(spark, sf("0.001")).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getBoolean(2)), "an estimate escaped the published bound")
    // WAU is a 7-day union: it can never fall below any single day's DAU
    val wau = r.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(wau.values.forall(_ > 0))
  }

  test("overlap spans equal brute-force token LCS on a random collision-heavy corpus") {
    import spark.implicits._
    // tiny vocabulary forces anchor collisions and repeated runs — the
    // regime where diagonal bookkeeping could plausibly go wrong
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 8).map(i => s"t$i")
    def randToks(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val evalToks = Map(0L -> randToks(30), 50L -> randToks(30))
    // a third of corpus docs get a spliced eval slice (3..12 tokens —
    // both below and above k) at a random position, so real shared runs
    // of known provenance exist alongside the incidental vocab collisions
    def randDoc(): String = {
      val base = randToks(rnd.nextInt(26))
      val doc =
        if (rnd.nextInt(3) == 0) {
          val src = evalToks(if (rnd.nextBoolean()) 0L else 50L)
          val len = 3 + rnd.nextInt(10)
          val from = rnd.nextInt(src.length - len + 1)
          val at = rnd.nextInt(base.length + 1)
          base.take(at) ++ src.slice(from, from + len) ++ base.drop(at)
        } else base
      doc.mkString(" ")
    }
    val ids = (0L to 60L)
    val corpus = ids.map(i =>
      (i, if (evalToks.contains(i)) evalToks(i).mkString(" ") else randDoc(),
        "en", "s", 1L))
    val docs = corpus.toDF("doc_id", "text", "lang", "source", "n_chars")
    val k = 5
    def toks(s: String): Array[String] = s.split(" ").filter(_.nonEmpty)
    def lcs(a: Array[String], b: Array[String]): Int = {
      var best = 0
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        if (a(i - 1) == b(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          if (dp(i)(j) > best) best = dp(i)(j)
        }
      best
    }
    val evalDocs = corpus.filter(_._1 % 50 == 0).map(d => d._1 -> toks(d._2))
    val expected = corpus.filter(_._1 % 50 != 0).flatMap { d =>
      val spans = evalDocs.map { case (eid, et) => (eid, lcs(toks(d._2), et)) }
        .filter(_._2 >= k)
      if (spans.isEmpty) None
      else {
        val maxSpan = spans.map(_._2).max
        val evalId = spans.filter(_._2 == maxSpan).map(_._1).min
        Some((d._1, maxSpan.toLong, evalId, spans.count(_._2 >= 8).toLong))
      }
    }.toSet
    val got = graft.ext.TextOps.overlapSpansOn(docs, k, evalMod = 50, flagSpan = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"only-op=${got -- expected} only-brute=${expected -- got}")
    assert(expected.nonEmpty, "fixture produced no contaminated docs — regenerate")
  }

  test("overlap spans: k-gram anchored LCS finds the exact shared run length") {
    import spark.implicits._
    // eval doc 0 (id % 50 == 0) shares exactly tokens "b c d e f g h"
    // (7 tokens) with corpus doc 1; doc 2 shares nothing ≥ 5; doc 3 is
    // shorter than k and must not crash the gram extraction
    val docs = Seq(
      (0L, "a b c d e f g h x y z", "en", "s", 1L),
      (1L, "q q b c d e f g h q q q", "en", "s", 1L),
      (2L, "m n o p r s t u v w", "en", "s", 1L),
      (3L, "x y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.overlapSpansOn(docs, k = 5, evalMod = 50, flagSpan = 8)
      .collect()
    assert(r.length == 1, r.mkString("|"))
    assert(r.head.getLong(0) == 1L)     // only doc 1 is contaminated
    assert(r.head.getLong(1) == 7L)     // span is exactly the 7 shared tokens
    assert(r.head.getLong(2) == 0L)     // against eval doc 0
    assert(r.head.getLong(3) == 0L)     // 7 < flagSpan=8 → not flagged
  }

  test("gopher rules: per-rule bits, fail count, and keep verdict") {
    import spark.implicits._
    // docA passes all five rules: 63 tokens, 4-char words, 3 distinct
    // stopwords, all-alpha, max token count 3 (3*5 <= 63)
    val wordsA = "the a of " +
      (0 until 60).map(i => ('a' + i % 26).toChar.toString * 4).mkString(" ")
    // docB: too short (wc), no stopwords, top-token share 1/2 > 0.2 (rep)
    val docs = Seq(
      (0L, wordsA, "en", "s", 1L),
      (1L, "hello world", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.gopherRulesOn(docs).collect()
    val a = r.find(_.getLong(0) == 0L).get
    assert(a.getLong(2) == 31L && a.getLong(3) == 0L && a.getLong(4) == 1L)
    val b = r.find(_.getLong(0) == 1L).get
    // bits: wc=0, mtl=2, alpha=4, stop=0, rep=0 -> 6; 3 failures; dropped
    assert(b.getLong(2) == 6L && b.getLong(3) == 3L && b.getLong(4) == 0L)
  }

  test("token budget: allocations respect the budget, the epoch cap, and the capped flag") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val r = TextOps.tokenBudgetOn(d).collect()
    val total = d.select(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0)
    val budget = total / 3
    assert(r.map(_.getLong(5)).sum <= budget) // Σ alloc_final ≤ budget
    r.foreach { row =>
      val (nTok, raw, capped, fin, epochsBp) =
        (row.getLong(1), row.getLong(3), row.getLong(4), row.getLong(5), row.getLong(6))
      assert(fin >= 0 && fin <= 2 * nTok)            // epoch cap
      assert(epochsBp <= 20000L)
      assert((capped == 1L) == (raw > 2 * nTok))     // flag consistency
      if (capped == 0L) assert(fin >= raw)           // uncapped only gain
    }
  }

  test("token budget apply: copies take only the two integers bracketing each source's rate") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val copies = TextOps.tokenBudgetApplyOn(d).collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).toSet)
    val rates = TextOps.tokenBudgetOn(d).collect()
      .map(r => r.getString(0) -> (r.getLong(5) * 1048576L) / r.getLong(1)).toMap
    copies.foreach { case (src, cs) =>
      val lo = rates(src) / 1048576L
      assert(cs.subsetOf(Set(lo, lo + 1)), s"$src: $cs vs rate ${rates(src)}")
    }
  }

  test("heaps law: cumulative curve is monotone and ends at the corpus totals") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val r = TextOps.heapsLawOn(d).collect()
    assert(r.length == 10 && r.map(_.getLong(0)).toSeq == (1L to 10L))
    for (c <- 1 to 3; i <- 1 until 10)
      assert(r(i).getLong(c) >= r(i - 1).getLong(c), s"col $c not monotone")
    val last = r.last
    assert(last.getLong(1) == d.count())
    assert(last.getLong(2) ==
      d.select(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0))
    assert(last.getLong(3) ==
      d.select(explode(split(col("text"), " "))).distinct().count())
  }

  test("fertility by lang: ratios reproduce from the per-language sums") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val r = TextOps.fertilityByLangOn(d).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (nTok, nBpe, fert) = (row.getLong(2), row.getLong(3), row.getLong(4))
      assert(fert == nBpe * 10000L / nTok)
      assert(fert >= 10000L) // BPE-ish segmentation never merges words
    }
  }

  test("k-anonymity: class sizes sum to the corpus; coarsening only helps") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val r = TextOps.kAnonymityOn(d, k = 5).collect()
    assert(r.map(_.getLong(3)).sum == d.count())
    // a class whose coarse group is still below k must itself be below k
    r.foreach { row =>
      if (row.getLong(5) == 1L) assert(row.getLong(4) == 1L)
    }
  }

  test("alignment: cosine bounded, flag consistent with sign") {
    val r = Multimodal.alignment(spark, sf()).collect()
    assert(r.length == 500)
    r.foreach { row =>
      val cos = row.getDouble(2)
      assert(cos >= -1.0000001 && cos <= 1.0000001)
      assert((row.getLong(3) == 1L) == (cos < 0))
    }
  }

  test("dominant direction: rescale saturates at the fixed-point bound") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val r = Similarity.dominantDirectionOn(e, iters = 3).collect()
    assert(r.length == 64)
    val mags = r.map(row => math.abs(row.getLong(1)))
    assert(mags.max == 1000000L) // the max-|component| rescale hits ±10⁶
    assert(mags.forall(_ <= 1000000L))
  }

  test("pca deflation: second component is near-orthogonal and normalized") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val r = Similarity.pcaDeflateOn(e, iters = 3).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
    assert(r.length == 128)
    val v1 = r.filter(_._1 == 1L).sortBy(_._2).map(_._3.toDouble)
    val v2 = r.filter(_._1 == 2L).sortBy(_._2).map(_._3.toDouble)
    // component 1 is exactly dominantDirection's output
    val dd = Similarity.dominantDirectionOn(e, iters = 3).collect()
      .sortBy(_.getLong(0)).map(_.getLong(1).toDouble)
    assert(v1.sameElements(dd))
    // both live on the fixed-point grid; the rescale saturates at ±10⁶
    assert(v1.map(math.abs).max == 1e6 && v2.map(math.abs).max <= 1e6)
    assert(v2.exists(_ != 0.0))
    // deflation worked: the directions are near-orthogonal (fixed-point
    // rounding is the only slack)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val cos = v1.zip(v2).map { case (a, b) => a * b }.sum / (norm(v1) * norm(v2))
    assert(math.abs(cos) < 0.05, s"cos $cos")
  }

  test("k-center coreset: full cover, radius bounds the mean") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val r = Similarity.coresetKCenterOn(e, nCenters = 4).collect()
    assert(r.length == 4)
    assert(r.map(_.getLong(1)).sum == e.count()) // every vector assigned once
    r.foreach { row =>
      assert(row.getLong(2) >= row.getLong(3) && row.getLong(3) >= 0L)
    }
  }

  test("semdedup threshold curve: counts are nonincreasing in the cutoff") {
    val r = ext.Similarity.dedupThresholdCurve(spark, sf()).collect()
    assert(r.length == 6)
    for (i <- 1 until 6) {
      assert(r(i).getLong(1) <= r(i - 1).getLong(1)) // n_pairs
      assert(r(i).getLong(2) <= r(i - 1).getLong(2)) // n_removed
    }
    assert(r.head.getLong(2) <= 500L)
  }

  test("changepoint: binary segmentation locates a constructed mean shift") {
    import spark.implicits._
    import java.sql.Timestamp
    // 10 days: 5 quiet days (2 events) then 5 loud days (20 events) —
    // the top split must be the last quiet day
    val rows = for {
      d <- 1 to 10
      i <- 1 to (if (d <= 5) 2 else 20)
    } yield (d.toLong * 1000 + i,
      Timestamp.valueOf(f"2024-03-$d%02d 12:00:00"), 1L, "click", 1.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.Events.changepointOn(ev).collect()
    assert(r.head.getString(0) == "2024-03-05")
    assert(r.head.getLong(1) == 5L && r.head.getLong(2) == 5L)
    assert(r.head.getLong(3) == 2000L && r.head.getLong(4) == 20000L)
  }

  test("graph-ANN beam search: k results per query, walk quality beats the entry point") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val r = Similarity.annGraphSearchOn(e, degree = 4, nQueries = 10,
      hops = 3, beam = 4, k = 3).collect()
    assert(r.length == 30) // 10 queries × top-3
    assert(r.map(_.getLong(0)).distinct.length == 10)
    r.foreach(row => assert(row.getLong(0) != row.getLong(1))) // self excluded
    // each query's best found neighbor is at least as close as the
    // fixed entry point (the walk can only improve on where it starts)
    import org.apache.spark.sql.functions._
    val vfp = e.selectExpr("vec_id",
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0d) as bigint)) as vfp")
    val entry = vfp.withColumn("h", expr("mix64(vec_id)"))
      .orderBy(col("h"), col("vec_id")).limit(1).collect()(0)
    val ev = entry.getSeq[Long](entry.fieldIndex("vfp"))
    val qv = vfp.filter(col("vec_id") < 10).collect()
      .map(q => q.getLong(0) -> q.getSeq[Long](1)).toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val bestFound = r.groupBy(_.getLong(0)).map { case (q, g) =>
      q -> g.map(_.getLong(2)).min }
    bestFound.foreach { case (q, best) =>
      if (entry.getLong(0) != q) assert(best <= d2(qv(q), ev), s"query $q") }
  }

  test("alert debounce: single hot hours suppressed, 2-consecutive raises, 3-quiet clears") {
    import spark.implicits._
    import java.sql.Timestamp
    // 12 hours of baseline 2 events/hour (mean stays ~2; hot needs > 2×mean):
    // h3 is a lone spike (suppressed); h6+h7 spike together (one alert),
    // then 3 quiet hours clear it; h11 lone spike again (suppressed)
    val perHour = Map(3 -> 20, 6 -> 20, 7 -> 20, 11 -> 20).withDefaultValue(2)
    val rows = for { h <- 0 until 12; i <- 1 to perHour(h) }
      yield ((h * 100 + i).toLong,
        Timestamp.valueOf(f"2024-03-01 $h%02d:30:00"), 1L, "click", 1.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.Events.alertDebounceOn(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 12L)  // n_hours
    assert(row.getLong(2) == 4L)   // n_hot: the four spike hours
    assert(row.getLong(3) == 1L)   // only the consecutive pair raises
    // alert active h7..h9 (raised at the 2nd hot hour, cleared after the
    // 3rd quiet hour h8,h9,h10 -> inactive again from h10)
    assert(row.getLong(4) == 3L)
  }

  test("alert debounce: SQL fold matches a reference simulation on 50 random series") {
    import spark.implicits._
    import java.sql.Timestamp
    val rng = new scala.util.Random(42)
    val hours = 48
    // 50 independent types, bursty counts so flags/alerts actually occur
    val series: Map[String, IndexedSeq[Long]] = (0 until 50).map { t =>
      f"t$t%02d" -> IndexedSeq.fill(hours)(
        if (rng.nextInt(8) == 0) 10L + rng.nextInt(30) else rng.nextInt(4).toLong)
    }.toMap
    val rows = for {
      (t, xs) <- series.toSeq; (c, h) <- xs.zipWithIndex; i <- 1L to c
    } yield (h * 1000 + i, Timestamp.valueOf(
      f"2024-03-${h / 24 + 1}%02d ${h % 24}%02d:15:00"), 1L, t, 1.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.streaming.Events.alertDebounceOn(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // reference simulation of the exact contract: hot = x·n > 2·total,
    // raise after 2 consecutive hot, clear after 3 consecutive quiet
    series.foreach { case (t, xs) =>
      val total = xs.sum; val n = xs.length.toLong
      val flags = xs.map(x => if (x * n > 2 * total) 1L else 0L)
      var (ia, cf, cc, alerts, ah) = (0L, 0L, 0L, 0L, 0L)
      flags.foreach { f =>
        if (f == 1L) {
          cf += 1; cc = 0
          if (ia == 0L && cf >= 2) { ia = 1; alerts += 1 }
        } else {
          cc += 1; cf = 0
          if (ia == 1L && cc >= 3) ia = 0
        }
        ah += ia
      }
      assert(got(t) == ((n, flags.sum, alerts, ah)), s"type $t")
    }
  }

  test("aspect buckets: ladder membership and 32-cap batch packing") {
    val ladder = Set(5000L, 6667L, 7500L, 10000L, 13333L, 15000L, 20000L)
    val r = Multimodal.aspectBuckets(spark, sf()).collect()
    assert(r.map(_.getLong(0)).distinct.length == r.length) // one row per image
    assert(r.forall(row => ladder.contains(row.getLong(4))))
    r.groupBy(row => (row.getLong(4), row.getLong(5))).foreach { case (_, g) =>
      assert(g.length <= 32)
    }
    // batches fill densely: max idx == (n-1)/32 within each bucket
    r.groupBy(_.getLong(4)).foreach { case (_, g) =>
      assert(g.map(_.getLong(5)).max == (g.length - 1) / 32)
    }
  }

  test("holt trend: SQL fold matches a reference simulation on 40 random series") {
    import spark.implicits._
    import java.sql.Timestamp
    val rng = new scala.util.Random(7)
    val hours = 60
    // ramps up then down so the trend state (and the division dividends)
    // actually go NEGATIVE — the truncate-vs-floor case the docstring pins
    val series: Map[String, IndexedSeq[Long]] = (0 until 40).map { t =>
      val peak = 20 + rng.nextInt(30)
      f"t$t%02d" -> (0 until hours).map { h =>
        val base = if (h < 30) h * peak / 30 else (60 - h) * peak / 30
        math.max(0L, base + rng.nextInt(5) - 2L)
      }
    }.toMap
    val rows = for {
      (t, xs) <- series.toSeq; (c, h) <- xs.zipWithIndex; i <- 1L to c
    } yield (h * 1000 + i, Timestamp.valueOf(
      f"2024-03-${h / 24 + 1}%02d ${h % 24}%02d:15:00"), 1L, t, 1.0, "{}")
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.streaming.Events.holtTrendOn(ev).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    series.foreach { case (t, xs) =>
      // Scala Long `/` truncates toward zero — the same semantics as
      // Spark `div` and DuckDB integer `//`
      var (l, b, sae, i) = (xs.head * 1000000L, 0L, 0L, 1L)
      xs.tail.foreach { x =>
        val f = l + b
        if (i >= 24) sae += math.abs(x * 1000000L - f)
        val l2 = (x * 1000000L + 3L * f) / 4L
        b = (3L * b + (l2 - l)) / 4L
        l = l2
        i += 1
      }
      assert(got(t) == ((l, b, l + b, sae, i)), s"type $t")
    }
  }

  test("late arrivals: chunked two-level prefix max equals the global scan") {
    import spark.implicits._
    import java.sql.Timestamp
    val rng = new scala.util.Random(11)
    val n = 3000 // > 2 chunks of 1024, so the carry-in path is exercised
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime // ms
    var cur = 0L
    val tsMs = (0 until n).map { _ =>
      cur += rng.nextInt(5000)
      // ~5% stragglers: event time up to 30 min behind the arrival front
      if (rng.nextInt(20) == 0) cur - (600000L + rng.nextInt(1200000))
      else cur
    }
    val rows = tsMs.zipWithIndex.map { case (ms, id) =>
      (id.toLong, new Timestamp(base + ms), 1L, "click", 1.0, "{}") }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.streaming.Events.lateArrivalsOn(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // reference: one serial scan in arrival order
    var wm = Long.MinValue
    val sim = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    tsMs.foreach { ms =>
      val us = (base + ms) * 1000L
      val late = wm != Long.MinValue && wm - us > 600000000L
      val lateS = if (late) (wm - us) / 1000000L else 0L
      val h = us / 3600000000L
      val (e, lt, mx) = sim.getOrElse(h, (0L, 0L, 0L))
      sim(h) = (e + 1, lt + (if (late) 1L else 0L), math.max(mx, lateS))
      wm = math.max(wm, us)
    }
    assert(got == sim.toMap)
    assert(got.values.map(_._2).sum > 0, "fixture must actually produce late events")
  }

  test("quality calibrate: per-source deciles are flat; raw deciles partition the corpus") {
    val r = TextOps.qualityCalibrate(spark, sf()).collect()
      .map(row => (row.getString(0), row.getLong(1), row.getLong(2), row.getLong(3)))
    // calibrated: each source's deciles differ by at most 1 (uniform by
    // construction of the within-source percentile rank)
    r.groupBy(_._1).foreach { case (src, g) =>
      val cal = g.map(_._4).filter(_ > 0)
      assert(cal.max - cal.min <= 1, s"source $src calibrated deciles not flat")
      assert(g.map(_._2).distinct.length == g.length, s"source $src dup deciles")
    }
    // both rankings count every document exactly once
    assert(r.map(_._3).sum == r.map(_._4).sum)
    // raw ranking is NOT flat for at least one source (the skew the
    // operator exists to correct — guards against a degenerate fixture)
    assert(r.groupBy(_._1).exists { case (_, g) =>
      val raw = g.map(_._3); raw.max - raw.min > 1 })
  }

  test("l-diversity: profile matches a direct groupBy on the corpus") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val r = TextOps.lDiversityOn(d).collect()
    val classes = d.groupBy(col("source"), expr("n_chars div 100"), col("lang"))
      .count().collect()
      .map(row => ((row.getString(0), row.getLong(1)), row.getLong(3)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(r.length == classes.size)
    r.foreach { row =>
      val cs = classes((row.getString(0), row.getLong(1)))
      assert(row.getLong(2) == cs.sum)
      assert(row.getLong(3) == cs.length)
      assert(row.getLong(4) == cs.max * 1000000L / cs.sum)
      assert(row.getLong(5) == (if (cs.length < 2) 1L else 0L))
    }
  }

  test("t-closeness: TV distance matches a direct recomputation on the corpus") {
    val d = graft.engine.Tables.load(spark, sf(), "documents")
    val rows = d.select(col("source"), expr("n_chars div 100"), col("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val langs = rows.map(_._3).distinct.sorted
    val n = rows.length.toLong
    val gppm = langs.map(l => l -> rows.count(_._3 == l).toLong * 1000000L / n).toMap
    val expected = rows.groupBy(r => (r._1, r._2)).map { case (k, g) =>
      val cn = g.length.toLong
      val tv = langs.map { l =>
        math.abs(g.count(_._3 == l).toLong * 1000000L / cn - gppm(l)) }.sum / 2
      k -> (cn, tv)
    }
    val got = TextOps.tCloseness(spark, sf()).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (cn, tv) = expected((r.getString(0), r.getLong(1)))
      assert(r.getLong(2) == cn && r.getLong(3) == tv,
        s"class ${r.getString(0)}/${r.getLong(1)}")
      assert(r.getLong(4) == (if (tv > 200000L) 1L else 0L))
    }
  }

  test("cuped: correlated pre/post collapses variance; global mean is preserved") {
    import spark.implicits._
    import java.sql.Timestamp
    val rng = new scala.util.Random(31)
    val base = Timestamp.valueOf("2024-03-01 00:00:00")
    val post = Timestamp.valueOf("2024-03-20 00:00:00") // past the 15-day cut
    // per-user activity level a; pre ≈ a, post ≈ 2a + small noise → CUPED
    // should recover θ ≈ 2 and collapse most of the between-user variance
    val rows = (1 to 300).flatMap { u =>
      val a = 10.0 + rng.nextInt(90)
      val noise = rng.nextInt(11) - 5.0
      Seq((u * 10L, base, u.toLong, "click", a, "{}"),
        (u * 10L + 1, post, u.toLong, "view", 2.0 * a + noise, "{}"))
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.Events.cupedOn(ev).collect()
    assert(r.length == 2)
    val theta = r.head.getDouble(2)
    assert(math.abs(theta - 2.0) < 0.05, s"theta $theta")
    r.foreach { row =>
      assert(row.getLong(7) > 9000, s"arm ${row.getInt(0)} var_red_bp ${row.getLong(7)}")
    }
    // CUPED shifts arms but preserves the pooled mean: Σ n·mean_adj = Σ n·mean_post
    def wsum(i: Int) = r.map(row => row.getLong(1) * row.getDouble(i)).sum
    assert(math.abs(wsum(4) - wsum(3)) < 1e-3)
  }

  test("diff-in-diff: recovers an injected effect under a level confound") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-03-01 00:00:00")
    val post = Timestamp.valueOf("2024-03-20 00:00:00") // past the 15-day cut
    // exposed users (1..150): 7 pre purchases totalling 70+j, a 5× level
    // confound vs control (151..300, one pre view of 10+j). Parallel
    // trend +5 for everyone, true treatment effect +3 on exposed only.
    // Jitters are mean-zero over each group (sizes are multiples of 5).
    def j(u: Int) = (u % 5 - 2) * 0.4
    val rows = (1 to 300).flatMap { u =>
      val eid = u * 100L
      if (u <= 150)
        (0 until 6).map(i => (eid + i, base, u.toLong, "purchase", 10.0, "{}")) ++
          Seq((eid + 6, base, u.toLong, "purchase", 10.0 + j(u), "{}"),
            (eid + 7, post, u.toLong, "view", 70.0 + j(u) + 5.0 + 3.0 + j(u + 1), "{}"))
      else
        Seq((eid, base, u.toLong, "view", 10.0 + j(u), "{}"),
          (eid + 1, post, u.toLong, "view", 10.0 + j(u) + 5.0 + j(u + 1), "{}"))
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.Events.diffInDiffOn(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 150L && row.getLong(1) == 150L)
    assert(math.abs(row.getDouble(2) - 5.0) < 1e-9) // ctl delta = trend only
    assert(math.abs(row.getDouble(3) - 8.0) < 1e-9) // exp delta = trend + effect
    // the estimate is the +3 effect, NOT the 5× level confound (raw
    // post-period gap is 63 units); t is decisively positive
    assert(math.abs(row.getDouble(4) - 3.0) < 1e-9)
    assert(row.getDouble(5) > 0.0 && row.getLong(6) > 10000L)
  }

  test("slo burn: one hot hour is suppressed by the 6h window, a sustained burn pages") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    // 48 hours × 200 events; baseline 1 error/hour (0.5% — inside budget).
    // Hour 12: a single hot hour (60 errors, 30%) — burn1 breaches but the
    // 6h window stays under 6× → suppressed. Hours 30–35: sustained 15%
    // (30 errors/hour × 6h) — both windows breach → pages.
    val rows = (0 until 48).flatMap { h =>
      val errs = if (h == 12) 60 else if (h >= 30 && h <= 35) 30 else 1
      (0 until 200).map { i =>
        val ty = if (i < errs) "error" else "click"
        ((h * 200 + i).toLong, new Timestamp(base + h * 3600000L + i * 1000L),
          (i % 20).toLong, ty, 1.0, "{}")
      }
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.Events.sloBurnOn(ev).collect()
      .map(x => (x.getLong(0), x.getLong(3), x.getLong(4), x.getInt(5)))
      .sortBy(_._1)
    assert(r.length == 48)
    val h0 = r.head._1
    val byH = r.map(x => (x._1 - h0) -> x).toMap
    // the hot hour breaches the fast window but NOT the slow one → no page
    assert(byH(12)._2 >= 14400L && byH(12)._3 < 6000L && byH(12)._4 == 0)
    // the sustained burn pages once the 6h window catches up
    assert((31 to 35).exists(h => byH(h.toLong)._4 == 1))
    (31 to 35).filter(h => byH(h.toLong)._4 == 1).foreach { h =>
      assert(byH(h.toLong)._2 >= 14400L && byH(h.toLong)._3 >= 6000L)
    }
    // quiet hours never page
    (0 to 11).foreach(h => assert(byH(h.toLong)._4 == 0, s"hour $h"))
  }

  test("seasonal anomaly: injected spike flags, the periodic baseline never does") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-03-04 00:00:00").getTime // a Monday
    // 28 days × 24 h, each cell exactly 10+hh events every week — plus one
    // injected 50-event spike at day 16, hour 5
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Timestamp, Long, String, Double, String)]
    var id = 0L
    for (d <- 0 until 28; h <- 0 until 24) {
      val extra = if (d == 16 && h == 5) 50 else 0
      for (_ <- 0 until (10 + h + extra)) {
        rows += ((id, new Timestamp(base + (d * 24L + h) * 3600000L + (id % 1000)),
          id % 37, "click", 1.0, "{}"))
        id += 1
      }
    }
    val ev = rows.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.Events.seasonalAnomalyOn(ev)
      .select("day", "hh", "n", "med", "mad", "anomaly").collect()
    assert(r.length == 28 * 24)
    val flagged = r.filter(_.getInt(5) == 1)
    assert(flagged.length == 1)
    assert(flagged.head.getString(0) == "2024-03-20" && flagged.head.getLong(1) == 5L)
    assert(flagged.head.getLong(2) == 10L + 5L + 50L && flagged.head.getLong(3) == 15L
      && flagged.head.getLong(4) == 0L)
  }

  test("conformal: q is the exact k-th order statistic, coverage replayed serially") {
    val rs = graft.engine.Tables.load(spark, sf(), "documents")
      .selectExpr("doc_id", "abs(n_chars - 6L * size(split(text, ' '))) AS r")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cal = rs.filter(_._1 % 2 == 0).map(_._2).sorted
    val k = ((9L * (cal.length + 1) + 9L) / 10L).toInt
    val q = cal(k - 1) // k-th smallest, 1-indexed
    val test = rs.filter(_._1 % 2 != 0).map(_._2)
    val row = ext.TextOps.conformal(spark, sf()).collect().head
    assert(row.getLong(0) == cal.length.toLong && row.getLong(1) == k.toLong)
    assert(row.getLong(2) == q)
    assert(row.getLong(3) == test.length.toLong)
    assert(row.getLong(4) == test.count(_ <= q).toLong)
    assert(row.getLong(5) == row.getLong(4) * 1000000L / row.getLong(3))
  }

  test("bm25 ndcg: idcg replayed serially, dcg bounded by it, milli ratio exact") {
    val terms = Set("spark", "window", "merge", "stream", "vector",
      "customer", "hash", "slow")
    val gains = Array(1000L, 630L, 500L, 430L, 386L, 356L, 333L, 315L, 301L, 289L)
    val rels = graft.engine.Tables.load(spark, sf(), "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").count(terms)))
      .filter(_._2 > 0)
    val idealIdcg = rels.sortBy(x => (-x._2, x._1)).take(10).map(_._2.toLong)
      .zip(gains).map { case (r, g) => r * g }.sum
    val row = ext.TextOps.bm25Ndcg(spark, sf()).collect().head
    assert(row.getLong(0) == 10L)
    assert(row.getLong(2) == idealIdcg)             // idcg == serial replay
    assert(row.getLong(1) <= row.getLong(2))        // dcg never beats ideal
    assert(row.getLong(3) == row.getLong(1) * 1000L / row.getLong(2))
    assert(row.getLong(3) > 0L && row.getLong(3) <= 1000L)
    assert(row.getLong(4) == rels.length.toLong)
  }

  test("bfs reach: walks a dup chain hop by hop and stops at the bound") {
    import spark.implicits._
    // doc i = 10 words starting at 2i over a shared token stream:
    // consecutive docs share 8 words (trigram jaccard 0.6 ≥ τ), docs two
    // apart share 6 (0.33 < τ) — so the dup graph is an exact CHAIN
    val docs = (0 until 12).map { i =>
      (i.toLong, (2 * i until 2 * i + 10).map(j => s"t$j").mkString(" "),
        "en", "src0", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = ext.Dedup.bfsReachOn(docs, col("doc_id") === 0, maxHops = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // seed reaches exactly one new doc per hop, then the bound cuts it
    assert(r.toSeq == Seq(
      (-1L, 7L, 7L * 1000000L / 12L),
      (0L, 1L, 1000000L / 12L), (1L, 1L, 1000000L / 12L),
      (2L, 1L, 1000000L / 12L), (3L, 1L, 1000000L / 12L),
      (4L, 1L, 1000000L / 12L)), r.mkString(", "))
  }

  test("shard pack: contiguous id ranges, byte conservation, dense shard ids") {
    val docs = graft.engine.Tables.load(spark, sf(), "documents")
    val total = docs.selectExpr("sum(octet_length(text))").head().getLong(0)
    val r = ext.Multimodal.mediaShardPack(spark, sf()).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5))).sortBy(_._1)
    assert(r.map(_._1).toSeq == r.indices.map(_.toLong)) // dense 0..k
    assert(r.map(_._3).sum == total)                     // every byte shipped
    assert(r.map(_._2).sum == docs.count())              // every item shipped
    // shards are contiguous id ranges in id order (sequential reads)
    r.sliding(2).foreach {
      case Array(a, b) => assert(b._4 == a._5 + 1, s"gap after shard ${a._1}")
      case _ =>
    }
    // greedy bound: a shard never exceeds target + its largest item
    r.foreach(x => assert(x._3 <= 4096L + x._6, x.toString))
  }

  test("sequential test: OBF crossing starts exactly when the injected effect does") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    // resolve each user's hash arm the same way the operator will
    val arms = spark.range(1, 201).selectExpr("id AS user_id",
      "cast(pmod(mix64(id), 2) as int) AS arm").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def j(u: Long) = (u % 5 - 2) * 0.4
    // one event per look window (days 1,7,13,19,25); arm 1 gains +20
    // per event from day 13 on → the effect exists only from look 3
    val rows = (1L to 200L).flatMap { u =>
      Seq(1, 7, 13, 19, 25).zipWithIndex.map { case (day, i) =>
        val eff = if (arms(u) == 1 && day >= 13) 20.0 else 0.0
        (u * 10L + i, new Timestamp(base + day.toLong * 86400000L),
          u, "click", 10.0 + j(u) + eff, "{}")
      }
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.Events.sequentialTestOn(ev).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getInt(6)))
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(r.forall(x => x._2 == x._1 * 6 && x._3 + x._4 == 200L))
    // pinned OBF K=5 boundaries, conservative-early
    assert(r.map(_._6).toSeq == Seq(4562L, 3226L, 2634L, 2281L, 2040L))
    // no crossing before the effect exists, crossing ever after
    assert(r.map(_._7).toSeq == Seq(0, 0, 1, 1, 1),
      r.map(x => (x._1, x._5, x._7)).mkString(", "))
  }

  test("kaplan-meier: fold matches a serial simulation on random censored lifetimes") {
    import spark.implicits._
    import java.sql.Timestamp
    val rng = new scala.util.Random(23)
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    // 200 users: everyone starts at a random hour; ~60% hit an error at a
    // random later hour, the rest are censored at their last click
    val users = (1 to 200).map { u =>
      val start = rng.nextInt(48)
      val span = 1 + rng.nextInt(120)
      val dies = rng.nextInt(10) < 6
      (u.toLong, start, span, dies)
    }
    val rows = users.flatMap { case (u, start, span, dies) =>
      val first = (u * 1000L, new Timestamp(base + start * 3600000L), u, "click", 1.0, "{}")
      val lastTy = if (dies) "error" else "click"
      val last = (u * 1000L + 1,
        new Timestamp(base + (start + span) * 3600000L), u, lastTy, 1.0, "{}")
      Seq(first, last)
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.streaming.Events.kaplanMeierOn(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // serial reference: group by duration, suffix-sum at-risk, fold S
    val byDur = users.groupBy(_._3.toLong).view.mapValues { g =>
      (g.count(_._4).toLong, g.count(!_._4).toLong) }.toMap
    val durs = byDur.keys.toSeq.sorted
    val suffix = durs.reverse.scanLeft(0L) { case (acc, t) =>
      acc + byDur(t)._1 + byDur(t)._2 }.tail.reverse
    var s = 1000000L
    val sim = durs.zip(suffix).map { case (t, n) =>
      val (d, c) = byDur(t)
      s = s * (n - d) / n
      (t, n, d, c, s)
    }
    assert(got.toSeq == sim)
    assert(got.exists(_._3 > 0) && got.exists(_._4 > 0), "needs deaths AND censorings")
  }

  test("shapley attribution: subset-weight formula equals permutation enumeration") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(min: Int) = Timestamp.valueOf(f"2024-03-01 10:$min%02d:00")
    // converters with masks {click}, {signup,view}, {}, {click,view};
    // u5 never converts (drops out of the game entirely)
    val rows = Seq(
      (1L, t(0), 1L, "click", 1.0, "{}"), (2L, t(5), 1L, "purchase", 1.0, "{}"),
      (3L, t(0), 2L, "view", 1.0, "{}"), (4L, t(1), 2L, "signup", 1.0, "{}"),
      (5L, t(5), 2L, "purchase", 1.0, "{}"),
      (6L, t(0), 3L, "purchase", 1.0, "{}"),
      (7L, t(0), 4L, "click", 1.0, "{}"), (8L, t(1), 4L, "view", 1.0, "{}"),
      (9L, t(5), 4L, "purchase", 1.0, "{}"),
      (10L, t(0), 5L, "error", 1.0, "{}"))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.streaming.Events.attributionShapleyOn(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val masks = Seq(1, 4 | 8, 0, 1 | 8) // the four converters
    def v(s: Int): Long = masks.count(m => (m & s) == m).toLong
    // brute force: marginal contribution of each channel over all 4! = 24
    // orderings; the sum over orderings IS phi ×24
    val bits = Map("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)
    val phi = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    bits.keys.toSeq.permutations.foreach { perm =>
      var s = 0
      perm.foreach { c =>
        val s2 = s | bits(c)
        phi(c) += v(s2) - v(s)
        s = s2
      }
    }
    bits.keys.foreach { c =>
      assert(got(c)._1 == phi(c), s"channel $c")
      assert(got(c)._2 == v(bits(c)) - v(0), s"solo $c")
    }
    // efficiency: credits sum to 24 × (v(full) − v(∅))
    assert(got.values.map(_._1).sum == 24L * (v(15) - v(0)))
  }

  test("ses backtest: serial replay of the walk-forward fold from raw daily counts") {
    val daily = graft.engine.Tables.load(spark, sf(), "events")
      .selectExpr("event_type",
        "unix_micros(date_trunc('day', ts)) div 86400000000 AS d")
      .groupBy("event_type", "d").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = daily.groupBy(_._1)
    val lo = daily.map(_._2).min; val hi = daily.map(_._2).max
    val expect = byType.map { case (ty, xs) =>
      val m = xs.map(t => t._2 -> t._3).toMap
      val series = (lo to hi).map(m.getOrElse(_, 0L))
      var f = series.head * 1000000L; var se = 0L; var ns = 0L; var i = 1L
      series.tail.foreach { x =>
        if (i >= 7) { se += math.abs(x * 1000000L - f); ns += 1 }
        f = (3 * f + x * 1000000L) / 4
        i += 1
      }
      ty -> ((i, ns, se / ns, f))
    }
    val got = graft.streaming.Events.sesBacktest(spark, sf()).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (ty, e) => assert(got(ty) == e, s"type $ty") }
  }

  test("ses backtest: a <=7-day corpus scores zero days and yields NULL mae, no /0 (ADVICE r12)") {
    import spark.implicits._
    // 3 days of events — the warmup never completes, n_scored = 0; the
    // DuckDB twin's CASE guard emits NULL the same way (its bare `//`
    // would RAISE on zero)
    val ev = Seq(
      ("click", "2024-01-01 10:00:00"), ("click", "2024-01-02 10:00:00"),
      ("click", "2024-01-03 10:00:00"), ("view", "2024-01-02 11:00:00"))
      .toDF("event_type", "s").select(col("event_type"),
        col("s").cast("timestamp_ntz").as("ts"))
    val r = graft.streaming.Events.sesBacktestOn(ev).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getLong(2) == 0L, s"n_scored for ${x.getString(0)}")
      assert(x.isNullAt(3), s"mae_ppm for ${x.getString(0)} should be NULL")
    }
  }

  test("ngram novelty: first doc fully novel, exact copy fully stale, overlap in between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f", "en", "s", 11L),        // 2 grams, both novel
      (2L, "a b c d e f", "en", "s", 11L),        // exact copy: 0 novel
      (3L, "a b c d e x y z w v", "en", "s", 19L),// 6 grams, 1 stale (abcde)
      (4L, "p q r s", "en", "s", 7L))             // < 5 words: excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.ext.TextOps.ngramNoveltyOn(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) == ((2L, 2L, 1000000L)))
    assert(r(2L) == ((2L, 0L, 0L)))
    assert(r(3L) == ((6L, 5L, 5L * 1000000L / 6L)))
  }

  test("cumulative reach: conserves users, monotone, dau bounded below by new") {
    val rows = graft.streaming.Events.cumulativeReach(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val total = graft.engine.Tables.load(spark, sf(), "events")
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum == total)      // every user is new exactly once
    assert(rows.last._5 == total)            // the curve ends at full reach
    assert(rows.sliding(2).forall { case Array(a, b) => b._5 >= a._5 })
    rows.foreach { case (d, nNew, dau, ret, _) =>
      assert(dau >= nNew && ret == dau - nNew, s"day $d")
    }
  }

  test("vocab overlap: exact jaccard on a constructed 3-source corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "s1", 5L), (2L, "b c d", "s2", 5L),
      (3L, "x y", "s3", 3L), (4L, "c", "s1", 1L))
      .toDF("doc_id", "text", "source", "n_chars")
    // direct-call twin of the graded op's body on the synthetic frame
    val ws = docs.select(col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    // s1 = {a,b,c}, s2 = {b,c,d}, s3 = {x,y}
    // s1∩s2 = {b,c} → j = 2/4; s1∩s3 = ∅; s2∩s3 = ∅ (absent rows)
    val sizes = ws.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("s1" -> 3L, "s2" -> 3L, "s3" -> 2L))
    val real = graft.ext.TextOps.vocabOverlap(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(real.nonEmpty)
    real.foreach { case (sa, sb, va, vb, i, j) =>
      assert(sa < sb)
      assert(i <= math.min(va, vb))
      assert(j == i * 1000000L / (va + vb - i))
    }
  }

  test("touch attribution: first and last credit each conserve the touched-converter count") {
    val ev = graft.engine.Tables.load(spark, sf(), "events")
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
    val touched = ev.filter(col("event_type") =!= "purchase")
      .join(fp, "user_id").filter(col("ts") < col("fp"))
      .select("user_id").distinct().count()
    val r = graft.streaming.Events.touchAttribution(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.nonEmpty && r.forall(_._1 != "purchase"))
    assert(r.map(_._2).sum == touched) // every touched converter has ONE first
    assert(r.map(_._3).sum == touched) // ...and ONE last
  }

  test("ARI: identity partition scores 10^6, known contingency matches the hand formula") {
    import spark.implicits._
    val ident = Seq((0L, 0L), (0L, 0L), (1L, 1L), (1L, 1L), (2L, 2L))
      .toDF("a", "b")
    assert(graft.ext.Similarity.ariOf(ident).head.getLong(4) == 1000000L)
    // contingency {{2,1},{0,3}}: n=6, P=15, I=C(2,2)+C(3,2)=1+3=4,
    // A=C(3,2)+C(3,2)=6, B=C(2,2)+C(4,2)=7,
    // ari = 2*(15*4-42)/(15*13-2*42) = 36/111
    val mixed = Seq((0L,0L),(0L,0L),(0L,1L),(1L,1L),(1L,1L),(1L,1L)).toDF("a","b")
    val got = graft.ext.Similarity.ariOf(mixed).head.getLong(4)
    assert(got == 2L * 1000000L * (15L*4L-42L) / (15L*13L-84L), got.toString)
  }

  test("multiprobe near-dup: strict superset of the wide config, recall dominates") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val mp = graft.ext.Similarity.cosineNearDupMpOn(e, 0.4, 16, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = graft.ext.Similarity.cosineNearDupOn(e, 0.4, 16, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the probe set contains every exact band key, so multiprobe's
    // candidates (hence verified pairs) are a superset by construction
    assert(wide.subsetOf(mp), s"wide=${wide.size} mp=${mp.size}")
    val rec = graft.ext.Similarity.multiprobeRecall(spark, sf()).head
    assert(rec.getLong(3) >= rec.getLong(4)) // recall_mp_bp >= recall_wide_bp
    assert(rec.getLong(1) >= rec.getLong(2)) // found counts agree with that
  }

  test("binary rerank: recall@5 vs brute force is substantial, hamming ranks sanely") {
    val e = graft.engine.Tables.load(spark, sf(), "embeddings")
    val bq = graft.ext.Similarity.binaryRerankOn(e, nQueries = 10,
        shortlist = 50, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val exact = graft.ext.Similarity.cosineTopKOn(e, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    assert(bq.keySet == exact.keySet && bq.values.forall(_.size == 5))
    val hits = exact.map { case (q, ex) => (bq(q) & ex).size }.sum
    // 48-bit codes + 50-shortlist on this near-orthogonal corpus: the
    // compression is honest about losing SOME recall, but must keep the
    // majority (measured 0.7+ on the fixture; floor set loosely)
    assert(hits >= 25, s"recall@5 hits $hits/50")
  }

  test("pad waste: length-sorted batching strictly beats ingest order, bytes conserve") {
    val r = graft.ext.Multimodal.padWaste(spark, sf()).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))).toMap
    assert(r.keySet == Set("ingest_order", "length_sorted"))
    val total = graft.engine.Tables.load(spark, sf(), "documents")
      .selectExpr("sum(cast(octet_length(text) as bigint))").head.getLong(0)
    r.values.foreach { case (nb, padded, waste, ppm) =>
      assert(padded - waste == total)          // payload bytes conserve
      assert(ppm == waste * 1000000L / padded)
      assert(nb > 0 && waste >= 0)
    }
    // the whole point: sorting by length cuts the padding bill
    assert(r("length_sorted")._3 < r("ingest_order")._3)
  }

  test("dispersion: exact BigInt replay from raw hourly counts, Poisson fixture reads ~1") {
    val hourly = graft.engine.Tables.load(spark, sf(), "events")
      .selectExpr("event_type",
        "unix_micros(date_trunc('hour', ts)) div 3600000000 AS h")
      .groupBy("event_type", "h").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lo = hourly.map(_._2).min; val hi = hourly.map(_._2).max
    val expect = hourly.groupBy(_._1).map { case (ty, xs) =>
      val m = xs.map(t => t._2 -> t._3).toMap
      val series = (lo to hi).map(m.getOrElse(_, 0L))
      val n = BigInt(series.length); val s1 = BigInt(series.sum)
      val s2 = series.map(x => BigInt(x) * x).sum
      ty -> (1000000 * (n * s2 - s1 * s1) / ((n - 1) * s1)).toLong
    }
    val got = graft.streaming.Events.dispersionTest(spark, sf()).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got == expect)
    // the generator is Poisson-ish: every type within [0.8, 1.2]
    got.values.foreach(f => assert(f > 800000L && f < 1200000L, f.toString))
  }

  test("forecast tourney: SES lane bit-matches the standalone backtest, winner consistent") {
    val t = graft.streaming.Events.forecastTourney(spark, sf()).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    val ses = graft.streaming.Events.sesBacktest(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(t.keySet == ses.keySet)
    t.foreach { case (ty, (nd, nsc, mSes, mHolt, w)) =>
      // the shared-fold SES lane must reproduce the standalone operator
      assert((nd, nsc, mSes) == ses(ty), s"type $ty")
      assert(w == (if (mSes < mHolt) "ses" else if (mHolt < mSes) "holt" else "tie"))
    }
    // trend-free Poisson fixture: Holt's trend term only adds variance
    assert(t.values.forall(_._5 == "ses"))
  }

  test("bootstrap CI: exact replay of the Poisson-weight replicate means and order statistics") {
    val ev = graft.engine.Tables.load(spark, sf(), "events")
      .filter(col("event_type") === "purchase")
      .selectExpr("event_id",
        "cast(floor(value * 1000000.0d + 0.5d) as bigint) AS v")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ev.nonEmpty)
    def w(u: Long): Long =
      if (u < 385749L) 0 else if (u < 771499L) 1 else if (u < 964373L) 2
      else if (u < 1028665L) 3 else if (u < 1044738L) 4
      else if (u < 1047952L) 5 else 6
    val means = (0L to 63L).flatMap { b =>
      var s = BigInt(0); var n = 0L
      ev.foreach { case (id, v) =>
        val u = java.lang.Math.floorMod(
          graft.functions.SketchHash.mix(id * 64L + b, 0), 1048576L)
        val ww = w(u); s += BigInt(ww) * v; n += ww
      }
      if (n > 0) Some((s / n).toLong) else None
    }.sorted
    val bv = means.length
    val rLo = (bv * 25 + 999) / 1000
    val meanMicro = (ev.map(e => BigInt(e._2)).sum / ev.length).toLong
    val r = graft.streaming.Events.bootstrapCi(spark, sf()).head
    assert(r.getLong(0) == ev.length.toLong)   // n_events
    assert(r.getLong(1) == bv.toLong)          // n_replicates (all valid)
    assert(r.getLong(2) == meanMicro)          // point estimate
    assert(r.getLong(3) == means(rLo - 1))     // ci_lo = 2.5% order stat
    assert(r.getLong(4) == means(bv - rLo))    // ci_hi = mirrored
    assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(4),
      "CI brackets the point estimate on this fixture")
  }

  test("cluster-aware split: zero leaked pairs by construction, while the doc-level split does leak here") {
    val r = graft.ext.Dedup.splitByCluster(spark, sf()).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.map(_._1).sorted.toSeq == Seq("test", "train", "val"))
    r.foreach { case (s, nd, nc, leaked) =>
      assert(nd >= nc && nc > 0, s"$s: docs=$nd clusters=$nc")
      assert(leaked == 0L, s"$s leaked $leaked pairs")
    }
    // every doc lands in exactly one split
    val total = graft.engine.Tables.load(spark, sf(), "documents").count()
    assert(r.map(_._2).sum == total)
    // contrast: the doc-level stratified split DOES leak on this corpus
    // (the audit splitLeakage grades) - the cluster-aware rule is a fix,
    // not a tautology
    val docLevel = graft.ext.Dedup.splitLeakage(spark, sf()).collect()
      .filter(_.getLong(3) == 1L).map(_.getLong(2)).sum
    assert(docLevel > 0L, "fixture has no cross-split near-dup pairs to fix")
  }

  test("page-hinkley: exact replay of the min-tracking drift fold; drift fixture alarms, flat fixture does not") {
    import spark.implicits._
    // replay on the real corpus
    val daily = graft.engine.Tables.load(spark, sf(), "events")
      .selectExpr("event_type",
        "unix_micros(date_trunc('day', ts)) div 86400000000 AS d")
      .groupBy("event_type", "d").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lo = daily.map(_._2).min; val hi = daily.map(_._2).max
    val expect = daily.groupBy(_._1).map { case (ty, xs) =>
      val m = xs.map(t => t._2 -> t._3).toMap
      val series = (lo to hi).map(m.getOrElse(_, 0L))
      var i = 0L; var ws = 0L; var base = -1L
      var cum = 0L; var mn = 0L; var mph = 0L; var alarm = -1L
      series.foreach { x =>
        if (i < 7) { ws += x; if (i == 6) base = ws * 1000000L / 7; i += 1 }
        else {
          cum += x * 1000000L - base - base / 10
          mn = math.min(mn, cum)
          val ph = cum - mn
          mph = math.max(mph, ph)
          if (alarm < 0 && ph > 3 * base) alarm = i + 1
          i += 1
        }
      }
      ty -> ((i, base, mph, alarm))
    }
    val got = graft.streaming.Events.pageHinkley(spark, sf()).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (ty, e) => assert(got(ty) == e, s"type $ty") }
    // synthetic contrast: a step-up drift alarms, the flat twin never does
    def mk(xs: Seq[Int]) = xs.zipWithIndex.map { case (n, day) =>
      (1 to n).map(k => ("t", f"2024-01-${day + 1}%02d 01:${k % 60}%02d:00"))
    }.flatten.toDF("event_type", "s")
      .select(col("event_type"), col("s").cast("timestamp_ntz").as("ts"))
    val drift = graft.streaming.Events
      .pageHinkleyOn(mk(Seq.fill(7)(10) ++ Seq.fill(14)(25))).head
    assert(!drift.isNullAt(4), "step-up must alarm")
    val flat = graft.streaming.Events
      .pageHinkleyOn(mk(Seq.fill(21)(10))).head
    assert(flat.isNullAt(4), "flat series must not alarm")
  }

  test("events_acf: exact ppm on an alternating series; bounded and sorted on real data") {
    import spark.implicits._
    // daily counts alternate 10/2 over 14 days: centered values are
    // exactly ±56, so r_k = ±(n-k)/n — closed-form ppm with truncation
    def mk(xs: Seq[Int]) = xs.zipWithIndex.flatMap { case (n, day) =>
      (1 to n).map(k => ("t", f"2024-01-${day + 1}%02d 01:${k % 60}%02d:00"))
    }.toDF("event_type", "s")
      .select(col("event_type"), col("s").cast("timestamp_ntz").as("ts"))
    val alt = graft.streaming.Events.acfOn(
      mk(Seq.tabulate(14)(d => if (d % 2 == 0) 10 else 2))).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(alt(1L) == -928571L, s"lag1=${alt(1L)}") // -13/14 ppm truncated
    assert(alt(2L) == 857142L, s"lag2=${alt(2L)}")  //  12/14 ppm truncated
    assert(alt(7L) == -500000L, s"lag7=${alt(7L)}") //  -7/14
    // real data: 5 types x 7 lags, |r| <= 1, sorted by (type, lag)
    val real = graft.streaming.Events.acf(spark, sf()).collect()
    assert(real.length == 35)
    assert(real.forall(r => math.abs(r.getLong(2)) <= 1000000L))
    val keys = real.map(r => (r.getString(0), r.getLong(1)))
    assert(keys.sameElements(keys.sorted))
  }

  test("events_holt_winters: constant series is a fixpoint; periodic series replays the fold exactly") {
    import spark.implicits._
    def mk(xs: Seq[Int]) = xs.zipWithIndex.flatMap { case (n, day) =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      (1 to n).map(k => ("t", f"$d 01:${k % 60}%02d:00"))
    }.toDF("event_type", "s")
      .select(col("event_type"), col("s").cast("timestamp_ntz").as("ts"))
    // constant 12/day: level pins at 12e6, everything else at 0
    val const = graft.streaming.Events.holtWintersOn(
      mk(Seq.fill(28)(12))).head
    assert(const.getLong(1) == 12000000L && const.getLong(2) == 0L)
    assert(const.getLong(3) == 12000000L) // forecast
    assert(const.getLong(4) == 0L && const.getLong(5) == 0L)
    assert(const.getLong(6) == 28L)
    // weekly spike (24 on slot 0, 10 otherwise) over 35 days: replay the
    // fold in-test (Long / truncates toward zero, matching div)
    val xs = Seq.tabulate(35)(d => if (d % 7 == 0) 24 else 10)
    var (l, b) = (0L, 0L); val s = Array.fill(7)(0L); var sae = 0L; var i = 0L
    xs.foreach { xi =>
      val x = xi * 1000000L
      if (i == 0L) { l = x; i = 1L }
      else {
        val j = (i % 7).toInt; val sj = s(j)
        val f = l + b + sj
        val l1 = (x - sj + 3L * (l + b)) / 4L
        val b1 = (3L * b + (l1 - l)) / 4L
        s(j) = (x - l1 + 3L * sj) / 4L
        if (i >= 21L) sae += math.abs(x - f)
        l = l1; b = b1; i += 1L
      }
    }
    val got = graft.streaming.Events.holtWintersOn(mk(xs)).head
    assert(got.getLong(1) == l, "level")
    assert(got.getLong(2) == b, "trend")
    assert(got.getLong(3) == l + b + s((i % 7).toInt), "forecast")
    assert(got.getLong(4) == s.max - s.min, "season amplitude")
    assert(got.getLong(5) == sae, "sae")
    assert(got.getLong(4) > 0L, "periodic series must learn a season")
  }

  test("events_ccf: a series leading its rotated twin by 2 days peaks at lag +2") {
    import spark.implicits._
    // type "a" daily counts; type "b" is a's 2-day-later rotation, so
    // the cross-correlation must peak at lag +2 (a leads b)
    val xa = Seq(30, 2, 2, 16, 2, 2, 24, 4, 2, 12, 2, 28, 2, 6, 2, 18, 2, 2, 10, 2)
    val n = xa.length
    val xb = Seq.tabulate(n)(t => xa(((t - 2) % n + n) % n))
    val rows = Seq("a" -> xa, "b" -> xb).flatMap { case (ty, xs) =>
      xs.zipWithIndex.flatMap { case (c, day) =>
        val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
        (1 to c).map(k => (ty, f"$date 01:${k % 60}%02d:00"))
      }
    }
    val ev = rows.toDF("event_type", "s")
      .select(col("event_type"), col("s").cast("timestamp_ntz").as("ts"))
    val ccf = graft.streaming.Events.ccfOn(ev).collect()
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(ccf.size == 7, "one (a,b) pair x 7 lags")
    val peak = ccf.maxBy(_._2)
    assert(peak._1 == 2L, s"peak at lag ${peak._1}, expected +2: $ccf")
    assert(peak._2 > 0.8, s"peak ccf ${peak._2}")
  }

  test("events_ks_test: identical halves accept, a shifted second half rejects at D = 1") {
    import spark.implicits._
    def mk(shift: Int) = (for {
      day <- 0 until 10
      v <- 1 to 50
    } yield {
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      (s"$date 01:00:00", v.toDouble + (if (day >= 5) shift else 0))
    }).toDF("s", "value")
      .select(col("s").cast("timestamp_ntz").as("ts"), col("value"))
    val same = graft.streaming.Events.ksTestOn(mk(0)).head
    assert(same.getLong(0) == 250L && same.getLong(1) == 250L)
    assert(same.getLong(3) == 0L && same.getLong(4) == 0L, "identical halves: D=0, accept")
    val shifted = graft.streaming.Events.ksTestOn(mk(1000)).head
    assert(shifted.getLong(3) == 1000000L, "disjoint supports: D = 1")
    assert(shifted.getLong(4) == 1L, "must reject at alpha=0.05")
  }

  test("events_mwu: midranks exact on ties, disjoint halves give U=0 and reject, identical halves accept") {
    import spark.implicits._
    def mk(pairs: Seq[(Int, Double)]) = pairs.map { case (day, v) =>
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      (s"$date 01:00:00", v)
    }.toDF("s", "value")
      .select(col("s").cast("timestamp_ntz").as("ts"), col("value"))
    // hand case: sample1 = {1, 2} (days 0-4), sample2 = {2, 3} (days 5-9):
    // ranks 1, 2.5 | 2.5, 4 -> R1 = 3.5, U1 = 0.5 -> u1_x2 = 1
    val hand = graft.streaming.Events.mwuTestOn(
      mk(Seq(0 -> 1.0, 1 -> 2.0, 8 -> 2.0, 9 -> 3.0))).head
    assert(hand.getLong(2) == 1L, s"u1_x2=${hand.getLong(2)}")
    assert(hand.getLong(3) == 2L * 2 * 2 - 1L, "u2_x2 complements")
    // identical halves: U1 = n1*n2/2 exactly, no rejection
    val vals = (0 until 10).flatMap(day => (1 to 50).map(v => (day, v.toDouble)))
    val same = graft.streaming.Events.mwuTestOn(mk(vals)).head
    assert(same.getLong(2) == same.getLong(0) * same.getLong(1), "u1_x2 = n1*n2")
    assert(same.getLong(4) == 0L && same.getLong(5) == 0L)
    // disjoint supports, second half larger: U1 = 0, r = -1, reject
    val shifted = graft.streaming.Events.mwuTestOn(
      mk(vals.map { case (d, v) => (d, if (d >= 5) v + 1000 else v) })).head
    assert(shifted.getLong(2) == 0L && shifted.getLong(4) == -1000000L)
    assert(shifted.getLong(5) == 1L, "must reject")
  }

  test("text_jsd_sources: identical distributions give 0, near-disjoint approach ln 2, all bounded") {
    import spark.implicits._
    val d = Seq(
      (0L, "x y z x", "en", "a", 7L),
      (1L, "x y z x", "en", "b", 7L),   // identical distribution to a
      (2L, "p q r s", "en", "c", 7L),   // disjoint from a/b
      (3L, "x o o o o o o o", "en", "d", 15L)) // one shared token with a
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.jsdSourcesOn(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // identical unigram distributions: every shared term snaps to 0 exactly
    assert(got(("a", "b")) == ((3L, 0L)), got.toString)
    // fully disjoint pairs never meet the join — absent by contract
    assert(!got.contains(("a", "c")) && !got.contains(("b", "c")))
    // one shared low-weight token: close to (but below) the ln 2 ceiling
    val (nd, jd) = got(("a", "d"))
    assert(nd == 1L && jd > 500000L && jd < 693147L, s"jsd(a,d)=$jd")
    // bounds hold on the real corpus
    val real = TextOps.jsdSources(spark, sf()).collect()
    assert(real.nonEmpty)
    assert(real.forall(r => r.getLong(3) >= 0L && r.getLong(3) <= 693147L))
  }

  test("sim_rrf_fusion: fused scores recompute from the emitted leg ranks and sort descending") {
    val rows = Similarity.rrfFusion(spark, sf()).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    rows.foreach { r =>
      val (lex, sem, fp) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val expect = (if (lex > 0) 1000000000L / (60L + lex) else 0L) +
        (if (sem > 0) 1000000000L / (60L + sem) else 0L)
      assert(fp == expect, s"doc ${r.getLong(1)}: $fp != $expect")
      assert(lex > 0 || sem > 0, "a fused doc must come from at least one leg")
    }
    val fps = rows.map(_.getLong(4))
    assert(fps.zip(fps.tail).forall { case (a, z) => a >= z }, "descending")
  }
}

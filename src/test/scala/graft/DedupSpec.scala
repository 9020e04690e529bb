package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends GraftSpec {
  import spark.implicits._

  val headlines = Seq(
    // (title, source, url, arrival)
    ("Quake hits", "reuters", "http://a", 1L),
    ("Quake hits", "reuters", "http://a", 2L), // same title|url → first wins
    ("Quake hits", "ap", "http://b", 3L),
    ("Markets rally", "reuters", "http://c", 4L),
    ("Markets rally", "reuters", "http://d", 5L) // same title|source → last wins
  ).toDF("title", "source", "url", "arrival")

  test("first-wins dedup on title|url keeps the earliest (news.py:74-82)") {
    val out = Dedup.firstWins(headlines, Seq("title", "url"), "arrival")
      .orderBy("arrival").collect()
    assert(out.map(_.getAs[Long]("arrival")).toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("last-wins dedup on title|source keeps the latest (news.py:350-356)") {
    val out = Dedup.lastWins(headlines, Seq("title", "source"), "arrival")
      .orderBy("arrival").collect()
    assert(out.map(_.getAs[Long]("arrival")).toSeq == Seq(2L, 3L, 5L))
  }

  test("incremental anti-join: second pass over identical input emits 0 rows (news.py:560-573)") {
    val seen = headlines.select("title", "url")
    assert(Dedup.newOnly(headlines, seen, Seq("title", "url")).count() == 0)
    val more = Seq(("New story", "x", "http://z", 9L)).toDF("title", "source", "url", "arrival")
    assert(Dedup.newOnly(headlines.unionByName(more), seen, Seq("title", "url")).count() == 1)
  }

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // near-dup of 1
    (3L, "completely different content about apache spark distributed compute engines"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("shingle kernel: bit-parity with the Column-composed form") {
    // the native WordGramHashes kernel must reproduce
    // array_distinct(transform(sequence(...), i => xxhash64(concat_ws(" ",
    // slice(words, i+1, n))))) over split(normalize, " ") BIT-FOR-BIT —
    // including the <n-words whole-text hash, empty/blank/null inputs,
    // unicode text, and first-occurrence dedup order
    import graft.text.TextAnalysis
    def composed(text: org.apache.spark.sql.Column, n: Int) = {
      val words = split(TextAnalysis.normalize(text), " ")
      val grams = when(size(words) < n, array(xxhash64(TextAnalysis.normalize(text))))
        .otherwise(transform(sequence(lit(0), size(words) - n),
          i => xxhash64(concat_ws(" ", slice(words, i + 1, lit(n))))))
      array_distinct(grams)
    }
    val cases = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq((100L, ""), (101L, "one"), (102L, "one two"),
        (103L, "a a a a a b a a a"), (104L, "héllo wörld ünïcode 文字 here"),
        (105L, "  padded -- punct!! runs "), (106L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    for (n <- Seq(1, 2, 3, 5)) {
      val bad = cases.select(
          Dedup.shingleHashes(col("text"), n).as("kernel"),
          composed(col("text"), n).as("composed"))
        .where(!(col("kernel") <=> col("composed"))).count()
      assert(bad == 0L, s"kernel diverges from composed form at n=$n")
    }
  }

  test("string-gram + band-key kernels: bit-parity with the composed forms") {
    import graft.text.TextAnalysis
    def composedStrings(text: org.apache.spark.sql.Column, n: Int) = {
      val words = split(TextAnalysis.normalize(text), " ")
      val grams = when(size(words) < n, array(TextAnalysis.normalize(text)))
        .otherwise(transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", slice(words, i + 1, lit(n)))))
      array_distinct(grams)
    }
    def composedBands(sig: org.apache.spark.sql.Column, bands: Int, k: Int) = {
      val rows = k / bands
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, concat_ws(",", slice(sig, b * rows + 1, lit(rows)))))
    }
    val cases = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq((200L, ""), (201L, "solo"), (202L, "a b"),
        (203L, "x y z x y z x y"), (204L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    for (n <- Seq(1, 2, 3)) {
      val bad = cases.select(
          Dedup.shingleStrings(col("text"), n).as("kg"),
          composedStrings(col("text"), n).as("cg"))
        .where(!(col("kg") <=> col("cg"))).count()
      assert(bad == 0L, s"string-gram kernel diverges at n=$n")
    }
    // band keys over real minhash signatures (incl. negative longs)
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 64, 3)
    for ((bands, k) <- Seq((16, 64), (8, 64), (4, 16))) {
      val bad = sigs.select(
          Dedup.lshBandKeys(col("sig"), bands, k).as("kb"),
          composedBands(col("sig"), bands, k).as("cb"))
        .where(!(col("kb") <=> col("cb"))).count()
      assert(bad == 0L, s"band-key kernel diverges at bands=$bands k=$k")
    }
  }

  test("vector kernels: bit-parity with the Column-composed forms") {
    // CosineSim / SignLshSig must reproduce the aggregate(zip_with(...))
    // compositions bit-for-bit: accumulation order, null/empty/zero-norm
    // edges, and the null-element -> signature 0L fold
    def cosineComposed(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
      val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
      when(denom === 0, 0.0).otherwise(dot(a, b) / denom)
    }
    def lshComposed(v: org.apache.spark.sql.Column, bits: Int, table: Int) =
      aggregate(
        transform(sequence(lit(0), lit(bits - 1)), j => {
          val dotJ = aggregate(
            zip_with(v, sequence(lit(0), size(v) - 1),
              (x, i) => x * when(xxhash64(lit(table), j, i).bitwiseAND(1) === 1, 1.0).otherwise(-1.0)),
            lit(0.0d), (acc, x) => acc + x)
          when(dotJ > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))
        }),
        lit(0L), (acc, x) => acc.bitwiseOR(x))
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map(i => (i.toLong,
        Seq.fill(16)(rnd.nextGaussian()), Seq.fill(16)(rnd.nextGaussian()))) ++
      Seq((100L, Seq.empty[Double], Seq.empty[Double]),
        (101L, Seq(0.0, 0.0), Seq(1.0, 2.0)),          // zero-norm side
        (102L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)),     // width mismatch
        (103L, null.asInstanceOf[Seq[Double]], Seq(1.0, 2.0)))
    val df = vecs.toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val badCos = df.select(
        Dedup.cosine(col("a"), col("b")).as("k"),
        cosineComposed(col("a"), col("b")).as("c"))
      .where(!(col("k") <=> col("c"))).count()
    assert(badCos == 0L, "cosine kernel diverges from the composed form")
    for ((bits, table) <- Seq((8, 0), (16, 3), (64, 1))) {
      val badLsh = df.select(
          Dedup.signLshSignature(col("a"), bits, table).as("k"),
          lshComposed(col("a"), bits, table).as("c"))
        .where(!(col("k") <=> col("c"))).count()
      assert(badLsh == 0L, s"signLsh kernel diverges at bits=$bits table=$table")
    }
  }

  test("sig_eq_count kernel: bit-parity with the composed zip_with fold") {
    // the est_jaccard scoring fold of every minhash candidate pair —
    // null-array, null-element and ragged-length edges included
    def composed(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)), lit(0),
        (acc, x) => acc + x)
    def kernel(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(graft.dedup.SigEqCount(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).map { i =>
      (i.toLong, Seq.fill(16)(java.lang.Long.valueOf(rnd.nextInt(3).toLong)),
        Seq.fill(16)(java.lang.Long.valueOf(rnd.nextInt(3).toLong)))
    } ++ Seq(
      (100L, Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
      (101L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 2L)), // ragged
      (102L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, null, 3L)), // null elems
      (103L, null.asInstanceOf[Seq[java.lang.Long]], Seq[java.lang.Long](1L, 2L)))
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<bigint>").as("a"),
        col("b").cast("array<bigint>").as("b"))
    val bad = df.select(kernel(col("a"), col("b")).as("k"),
        composed(col("a"), col("b")).as("c"))
      .where(!(col("k") <=> col("c"))).count()
    assert(bad == 0L, "sig_eq_count kernel diverges from the composed fold")
  }

  test("exact jaccard: identical docs = 1.0, disjoint docs = 0") {
    val sh = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
    val j = sh.as("a").crossJoin(sh.as("b"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        Dedup.jaccard(col("a.sh"), col("b.sh")).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 3L)) == 0.0)
    assert(j((1L, 2L)) > 0.6 && j((1L, 2L)) < 1.0)
  }

  test("minhash-LSH finds the near-dup and exact-dup pairs, not the unrelated one") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalMinhashPairs == full-run pairs minus corpus-internal pairs") {
    // corpus = docs {1, 4} already committed (an exact-dup pair — the
    // corpus-INTERNAL pair the incremental run must EXCLUDE); new batch =
    // docs {2, 3}: 2 is a near-dup of 1 (a cross pair the run must emit),
    // 3 is unrelated
    val sigsAll = Dedup.minhashSignatures(docs, "doc_id", "text", 64, 3).persist()
    try {
      val corpus = sigsAll.where(col("id").isin(1L, 4L)) // (1,4) are exact dups
      val fresh = sigsAll.where(col("id").isin(2L, 3L))
      val inc = Dedup.incrementalMinhashPairs(fresh, corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val full = Dedup.minhashLshPairsFromSigs(sigsAll)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val corpusIds = Set(1L, 4L)
      val expected = full.filterNot(p => corpusIds(p._1) && corpusIds(p._2))
      assert(inc == expected,
        s"incremental ${inc} != full-minus-corpus ${expected}")
      // the corpus-internal exact-dup pair (1,4) must have been excluded
      assert(full.exists(p => p._1 == 1L && p._2 == 4L))
      assert(!inc.exists(p => p._1 == 1L && p._2 == 4L))
      // and a cross pair must be present (2 is a near-dup of 1)
      assert(inc.exists(p => p._1 == 1L && p._2 == 2L))
    } finally sigsAll.unpersist()
  }

  test("incrementalSimhashPairs == full-run pairs minus corpus-internal pairs") {
    // corpus = docs {1, 4} (an exact-dup pair — hamming 0 — that the
    // incremental run must EXCLUDE); new batch = doc 3 (unrelated), doc 5
    // (exact copy of doc 1 → guaranteed hamming-0 cross pairs) and doc 2
    // (word-drop near-dup — may legitimately exceed hamming 3, the
    // documented simhash miss mode; the equivalence law covers it either
    // way). The committed-store leg round-trips corpus simhashes through
    // parquet.
    val all = docs.unionByName(Seq(
      (5L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text"))
    val shAll = Dedup.simhashes(all, "doc_id", "text").persist()
    try {
      withTempDir("graft_sh_store") { store =>
        shAll.where(col("id").isin(1L, 4L)).write.mode("overwrite").parquet(store)
        val fresh = shAll.where(col("id").isin(2L, 3L, 5L))
        val inc = Dedup.incrementalSimhashPairs(fresh, spark.read.parquet(store))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val full = Dedup.simhashPairsFromHashes(shAll)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val corpusIds = Set(1L, 4L)
        val expected = full.filterNot(p => corpusIds(p._1) && corpusIds(p._2))
        assert(inc == expected, s"incremental $inc != full-minus-corpus $expected")
        // the corpus-internal exact-dup pair was found by the full run and
        // excluded by the incremental one
        assert(full.exists(p => p._1 == 1L && p._2 == 4L))
        assert(!inc.exists(p => p._1 == 1L && p._2 == 4L))
        // and the new exact copy pairs with BOTH corpus originals at hamming 0
        assert(inc.contains((1L, 5L, 0)) && inc.contains((4L, 5L, 0)))
      }
    } finally shAll.unpersist()
  }

  test("incrementalEmbeddingPairs vs a COMMITTED band store == full-run pairs minus corpus-internal") {
    // corpus = vectors {0..19} ∪ near-dup copies {100000..100004} of the
    // first 5 (corpus-internal near-dup pairs the incremental run must
    // EXCLUDE); new batch = near-dup copies {200000..200009} of vectors
    // {5..14} (cross pairs it must emit). The corpus band table round-trips
    // through parquet — the committed-store form — proving bands computed
    // for the new batch join correctly against bands written earlier.
    val rnd = new scala.util.Random(13)
    val base = (0 until 20).map(i => (i.toLong, Array.fill(12)(rnd.nextGaussian())))
    def nudge(v: Array[Double]) = v.updated(0, v(0) + 0.05)
    val corpusRows = base ++ base.take(5).map { case (i, v) => (i + 100000, nudge(v)) }
    val newRows = base.slice(5, 15).map { case (i, v) => (i + 200000, nudge(v)) }
    val corpus = corpusRows.toDF("id", "v")
    val fresh = newRows.toDF("id", "v")
    val (bits, tables) = (4, 8)
    withTempDir("graft_band_store") { store =>
      Dedup.signLshBands(corpus, bits, tables).write.mode("overwrite").parquet(store)
      val inc = Dedup.incrementalEmbeddingPairs(fresh, corpus,
          spark.read.parquet(store), threshold = 0.9, bits, tables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val all = corpus.unionByName(fresh)
      val full = Dedup.embeddingPairsFromBands(all,
          Dedup.signLshBands(all, bits, tables), threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val corpusIds = corpusRows.map(_._1).toSet
      val expected = full.filterNot(p => corpusIds(p._1) && corpusIds(p._2))
      assert(inc == expected, s"incremental $inc != full-minus-corpus $expected")
      // corpus-internal near-dup pairs exist and were excluded
      assert(full.exists(p => corpusIds(p._1) && corpusIds(p._2)))
      assert(!inc.exists(p => corpusIds(p._1) && corpusIds(p._2)))
      // and the injected cross pairs were found
      assert(inc.exists { case (a, b) => b == a + 200000 })
    }
  }

  test("minhash signature agreement estimates true jaccard") {
    val sh = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 256, 3)
    val est = sig.as("a").crossJoin(sig.as("b"))
      .where(col("a.id") === 1 && col("b.id") === 2)
      .select(aggregate(zip_with(col("a.sig"), col("b.sig"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v).cast("double") / 256)
      .collect()(0).getDouble(0)
    val truth = sh.as("a").crossJoin(sh.as("b"))
      .where(col("a.doc_id") === 1 && col("b.doc_id") === 2)
      .select(Dedup.jaccard(col("a.sh"), col("b.sh"))).collect()(0).getDouble(0)
    assert(math.abs(est - truth) < 0.15, s"est $est vs true $truth")
  }

  test("simhash: identical docs distance 0; near-dups close; unrelated far") {
    val sh = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
    assert(dist(1, 4) == 0)
    assert(dist(1, 2) < dist(1, 3), s"near ${dist(1, 2)} far ${dist(1, 3)}")
  }

  test("simhash pair search finds exact dup via block LSH") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Int]("hamming")))
    assert(pairs.exists(p => p._1 == 1 && p._2 == 4 && p._3 == 0))
  }

  test("embedding cosine: parallel vectors = 1, orthogonal = 0") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(2.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("id", "v")
    val c = e.as("a").crossJoin(e.as("b"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        Dedup.cosine(col("a.v"), col("b.v")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(c((1L, 2L)) - 1.0) < 1e-6)
    assert(math.abs(c((1L, 3L))) < 1e-6)
  }

  test("autoBits sizes sign-LSH to the corpus: 2^bits ~ n/64, clamped to [8,24]") {
    assert(Dedup.autoBits(100) == 8)            // floor: small corpora stay demo-scale
    assert(Dedup.autoBits(1000000) == 14)       // 10^6/64 = 15625 -> 2^14 buckets
    assert(Dedup.autoBits(1000000) >= 14)       // the round-3 acceptance bar
    assert(Dedup.autoBits(1L << 40) == 24)      // ceiling: bucket key stays compact
    // recall evidence at narrow buckets lives in AnnSpec (2^16 x 8 tables >= 0.9)
  }

  test("autoTables keeps default recall >= 0.9 as autoBits widens signatures") {
    // p(0.95) = 1 - acos(0.95)/pi ~ 0.899: hit = p^bits per table, tables =
    // ceil(ln 0.1 / ln(1 - hit)) — a FIXED table count would decay recall
    // from ~0.89 at bits=8 to ~0.28 at bits=24; the derived counts hold 0.9
    assert(Dedup.autoTables(8, 0.95) == 5)
    assert(Dedup.autoTables(14, 0.95) == 10)   // autoBits(10^6) pairs with 10 tables
    assert(Dedup.autoTables(24, 0.95) == 29)
    // 1-bit multiprobe (lshTopK) raises per-table hit, needing fewer tables
    assert(Dedup.autoTables(16, 0.9, oneBitProbe = true) == 7)
    // analytic recall check: 1 - (1 - hit)^tables >= 0.9 at every width
    for (b <- Seq(8, 12, 16, 20, 24)) {
      val p = 1.0 - math.acos(0.95) / math.Pi
      val hit = math.pow(p, b)
      val t = Dedup.autoTables(b, 0.95)
      assert(1.0 - math.pow(1.0 - hit, t) >= 0.9, s"bits=$b tables=$t")
    }
  }

  test("autoBitsTables narrows the signature when the table budget binds") {
    // 2^40 docs: tight threshold keeps autoBits' width; a loose one would
    // need ~1200 tables at 24 bits — the signature must narrow instead of
    // silently clamping the table count below the recall target
    assert(Dedup.autoBitsTables(1L << 40, 0.95) == ((24, 29)))
    assert(Dedup.autoBitsTables(1L << 40, 0.75) == ((12, 52)))
    // analytic >=0.9 recall holds at BOTH derived operating points — the
    // invariant a fixed clamp abandons
    for (thr <- Seq(0.75, 0.85, 0.9, 0.95)) {
      val (b, t) = Dedup.autoBitsTables(1L << 40, thr)
      val p = 1.0 - math.acos(thr) / math.Pi
      assert(1.0 - math.pow(1.0 - math.pow(p, b), t) >= 0.9,
        s"thr=$thr -> bits=$b tables=$t")
      assert(t <= Dedup.MaxTables)
    }
  }

  test("autoBitsTables below its validity floor: clamped config, honest analyticRecall, in-range recovery") {
    // below threshold ~0.45 even the 8-bit floor cannot reach the 0.9
    // target within the 64-table budget — the derivation returns the best
    // clamped configuration (8 bits, MaxTables) and analyticRecall reports
    // the TRUE reduced recall it achieves (a loud warning is logged; the
    // property here is that the reported number is honest and monotone)
    for (thr <- Seq(0.30, 0.35, 0.40, 0.44)) {
      val (b, t) = Dedup.autoBitsTables(1L << 40, thr)
      assert(b == 8 && t == Dedup.MaxTables, s"thr=$thr -> ($b, $t)")
      val r = Dedup.analyticRecall(b, t, thr)
      assert(r < 0.9, s"thr=$thr claims in-target recall $r from a clamped config")
      // the clamp is still the best available point: any NARROWER signature
      // at the same budget only lowers recall
      for (bb <- 9 to 24)
        assert(Dedup.analyticRecall(bb, Dedup.MaxTables, thr) <= r + 1e-12)
    }
    // recall is monotone in threshold and re-enters the >=0.9 region by
    // ~0.478 (solve 1-(1-p^8)^64 = 0.9 for p, then theta = cos(pi(1-p)))
    val rs = Seq(0.30, 0.35, 0.40, 0.45, 0.48).map { thr =>
      val (b, t) = Dedup.autoBitsTables(1L << 40, thr)
      Dedup.analyticRecall(b, t, thr)
    }
    assert(rs.zip(rs.tail).forall { case (a, c) => a <= c + 1e-12 }, rs.toString)
    assert(rs.last >= 0.9, s"threshold 0.48 should be inside the validity region: ${rs.last}")
    // analyticRecall matches the numbers autoTables is derived from in the
    // valid regime (sanity tie between the two public functions)
    val (b95, t95) = Dedup.autoBitsTables(1L << 40, 0.95)
    assert(Dedup.analyticRecall(b95, t95, 0.95) >= 0.9)
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles produce word 3-grams with tail truncation") {
    val df = Seq(Tuple1("a b c d")).toDF("text")
    val got = df.select(Dedup.shingles(col("text")).as("sh")).as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
  }

  test("short docs still get one (truncated) shingle") {
    val df = Seq(Tuple1("only")).toDF("text")
    val got = df.select(Dedup.shingles(col("text")).as("sh")).as[Seq[String]].head()
    assert(got == Seq("only"))
  }

  test("fused shingle_set matches array_distinct(shingles(text)) on edge inputs") {
    val texts = Seq("a b c d e", "a b c a b c a b c", "only", "", "a  b   c",
      " leading", "trailing ", "x y", "a b c d a b c d",
      "repeat repeat repeat repeat")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fused = df.select(col("doc_id"),
        graft.functions.ShingleSet.shingleSet(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val hof = df.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"))).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    texts.indices.foreach(i => assert(fused(i.toLong) == hof(i.toLong), s"doc $i"))
  }

  test("shingleWindows (non-distinct, strided) matches the HOF windowing") {
    val texts = Seq("a b c d e f g", "x x x x x", "only", "", "p q", "a b c d e f g h i")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (stride <- Seq(1, 2, 3)) {
      val fused = df.select(col("doc_id"),
          graft.functions.ShingleSet.shingleWindows(col("text"), 4, stride).as("w"))
        .as[(Long, Seq[String])].collect().toMap
      val hof = df.select(col("doc_id"),
          Dedup.shingles(col("text"), 4, stride).as("w"))
        .as[(Long, Seq[String])].collect().toMap
      texts.indices.foreach(i =>
        assert(fused(i.toLong) == hof(i.toLong), s"doc $i stride $stride"))
    }
  }

  test("chunkDedup finds planted cross-document chunk duplication at ANY offset") {
    val shared = "one two three four five six" // exactly one 6-word chunk
    val docs = Seq(
      (1L, s"$shared tail a b c"),
      (2L, s"x y $shared z"),      // deliberately misaligned offset (2)
      (3L, "totally different words here now ok")).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(docs, chunkWords = 6)
      .filter(col("n_docs") > 1)
      .select("n_occurrences", "n_docs", "keeper_doc")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 1)
    assert(got.head == ((2L, 2L, 1L)))
    // stride > 1 is the documented recall trade: the SAME duplication
    // becomes invisible because the copies' offsets are not congruent
    assert(Dedup.chunkDedup(docs, chunkWords = 6, stride = 3)
      .filter(col("n_docs") > 1).count() == 0)
    // a doc shorter than the window still contributes one truncated chunk
    val short = Seq((1L, "tiny doc"), (2L, "tiny doc")).toDF("doc_id", "text")
    val g2 = Dedup.chunkDedup(short, chunkWords = 6, stride = 3)
      .select("n_occurrences").as[Long].collect()
    assert(g2.toSeq == Seq(2L))
  }

  test("decontaminate flags exactly the corpus docs overlapping the benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words then alpha beta gamma delta epsilon zeta and more"), // contains it
      (2L, "alpha beta gamma but the run stops here early now"),             // only 3-gram overlap
      (3L, "completely unrelated content with no shared spans at all")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench, chunkWords = 6, stride = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L)) // one shared 6-gram; doc 2's partial overlap is below the window
  }

  test("decontaminate catches benchmark items SHORTER than the chunk window") {
    // a 3-word eval answer key verbatim inside a long corpus doc: full-width
    // corpus chunks can never hash-equal the truncated benchmark chunk, so
    // the short-length matching pass must catch it
    val bench = Seq((100L, "forty two exactly")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the model answered forty two exactly as the key required it to"),
      (2L, "nothing relevant in this one at all today")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench, chunkWords = 6, stride = 1)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L))
  }

  test("shingleWindowsExact drops docs shorter than the window (no truncated fallback)") {
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        graft.functions.ShingleSet.shingleWindowsExact(col("text"), 3).as("w"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L).isEmpty)              // 2 words < k=3 -> NO truncated window
    assert(got(2L) == Seq("a b c", "b c d"))
  }

  test("single-scan multi-width decontaminate equals the per-width reference loop") {
    // randomized: the width-partition argument (full w-window = exactly w-1
    // separator spaces) must make ONE union-of-widths corpus pass join
    // identically to a per-width loop, including empty words / short docs
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "", "dd")
    def text() = (0 until (1 + rnd.nextInt(9))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bench = (100L until 112L).map(i => (i, text())).toDF("doc_id", "text")
    val corpus = (0L until 60L).map(i => (i, text())).toDF("doc_id", "text")
    val chunkWords = 4
    // reference: the pre-round-6 per-width implementation, verbatim
    val cappedLen = least(size(split(col("text"), " ")), lit(chunkWords))
    val lens = bench.select(cappedLen.as("len")).distinct().collect().map(_.getInt(0))
    def chunks(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.select(col("doc_id"), explode(
          graft.functions.ShingleSet.shingleWindows(col("text"), k)).as("c"))
        .select(col("doc_id"), md5(col("c")).as("chunk_hash"))
    val expected = lens.toIndexedSeq.map { len =>
        val bc = chunks(bench.filter(cappedLen === len), len).select("chunk_hash").distinct()
        chunks(corpus, len).join(bc, "chunk_hash")
      }.reduce(_ unionByName _)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val got = Dedup.decontaminate(corpus, bench, chunkWords)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    assert(got.nonEmpty) // fixture actually exercises the join
  }

  test("ngramNovelty: held-out doc counts exactly its train-unseen 4-grams") {
    // doc 11 (test: 11 % 11 == 0): "a b c d e" -> grams "a b c d","b c d e".
    // train doc 1 contains "a b c d" -> 1 seen, 1 novel. doc 22 all-novel.
    val docs = Seq(
      (1L, "x y a b c d z w q r"),
      (2L, "completely different train text here now ok"),
      (11L, "a b c d e"),
      (22L, "nothing shared at all here")).toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs)
      .as[(Long, Long, Long, Double)].collect().map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(got(11L) == ((2L, 1L, 0.5)))
    assert(got(22L) == ((2L, 2L, 1.0)))
  }

  test("dedupSpanCoverage merges OVERLAPPING shared windows without double counting") {
    // docs 1 and 2 share the 6-token run "a b c d e f": doc 1 offsets 0,1,2
    // are shared windows ([0,4),[1,5),[2,6) -> union [0,6) = 6 tokens of 8),
    // and its tail "x y" contributes nothing. doc 3 shares nothing.
    val docs = Seq(
      (1L, "a b c d e f x y"),
      (2L, "q a b c d e f r"),
      (3L, "totally unrelated text with no shared span")).toDF("doc_id", "text")
    val got = Dedup.dedupSpanCoverage(docs)
      .as[(Long, Long, Long, Double)].collect().map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(got(1L) == ((8L, 6L, 0.75)))
    assert(got(2L) == ((8L, 6L, 0.75)))
    assert(!got.contains(3L))
  }

  test("dedupSpanCoverage: disjoint islands sum, gap stays uncovered") {
    // "a b c d" shared at offset 0 ([0,4)) and offset 8 ([8,12)) with a
    // 4-token gap -> covered 8 of 12
    val docs = Seq(
      (1L, "a b c d g1 g2 g3 g4 a b c d"),
      (2L, "a b c d other stuff entirely here")).toDF("doc_id", "text")
    val got = Dedup.dedupSpanCoverage(docs)
      .as[(Long, Long, Long, Double)].collect().map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    assert(got(1L) == ((12L, 8L, 0.6667)))
  }

  test("prefixNearDupPairs: a 3-chain shares its 50-char prefix -> exactly 2 pairs") {
    val p50 = "0123456789" * 5 // exactly 50 chars
    val docs = Seq(
      (3L, p50 + " tail three"),
      (1L, p50 + " tail one"),
      (2L, p50 + " tail two"),
      (4L, "short doc under fifty chars"),       // length(p) < 50 -> excluded
      (5L, "x" * 60)).toDF("doc_id", "text")     // unique prefix -> no pair
    val got = Dedup.prefixNearDupPairs(docs)
      .as[(Long, Long, String)].collect().toSeq
    // equal prefixes order by doc_id: pairs (1,2) and (2,3), not the clique
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L), (2L, 3L)))
    assert(got.forall(_._3 == p50))
  }

  test("exactDedup groups case/whitespace-insensitive duplicates") {
    val docs = Seq((1L, "Hello World"), (2L, "  hello world "), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDedup(docs)
      .select("keeper_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("identical docs share full minhash signature; lsh pairs them") {
    val docs = Seq((1L, "w x y z a b"), (2L, "w x y z a b"), (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs).collect()
    val byId = sigs.map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(byId(1L) == byId(2L))
    assert(byId(1L) != byId(3L))
    val pairs = Dedup.lshCandidatePairs(docs)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("ngram jaccard is 1.0 for identical consecutive docs") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs)
      .select("left_id", "jaccard").as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
  }

  test("checksumManifest matches known md5/sha256") {
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    val r = Dedup.checksumManifest(docs).head()
    assert(r.getString(1) == "5d41402abc4b2a76b9719d911017c592")
    assert(r.getString(2) == "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824")
    assert(r.getLong(3) == 5L)
  }
  test("connectedComponents merges transitively-linked nodes") {
    // 1-2, 2-3 chain plus an isolated 8-9 pair: min-label propagation
    // must give {1,2,3} label 1 and {8,9} label 8
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 8L)).toDF("left_id", "right_id")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("connectedComponents stops at its maxIters cap") {
    // a 6-node path needs >1 min-propagation round past the warm start
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("left_id", "right_id")
    val full = Dedup.connectedComponents(pairs).collect().map(_.getLong(1)).distinct
    assert(full.toSeq == Seq(1L), "converged: one component labeled 1")
    // the cap bounds DISTRIBUTED rounds; at the default threshold this
    // graph finishes on the driver before any round, so pin the rounds
    // (Spark's own broadcast conf, -1 = finish only at the fixpoint)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val capped = try Dedup.connectedComponents(pairs, maxIters = 1)
      .collect().map(_.getLong(1)).distinct
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(capped.length > 1, "maxIters = 1 must stop before the fixpoint")
  }

  private val chain64 = (0L until 63L).map(i => (i, i + 1))

  test("connectedComponents finishes a broadcast-sized graph in at most 2 jobs") {
    // the symmetric-edge cut (its row count observed in the same job)
    // and one collect for the driver union-find; no rounds, no counts
    val pairs = chain64.toDF("left_id", "right_id")
    var labels: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { labels = Dedup.connectedComponents(pairs) }
    assert(jobs <= 2, s"CC on a 64-node chain ran $jobs jobs")
    assert(labels.as[(Long, Long)].collect().toMap ==
      (0L to 63L).map(_ -> 0L).toMap)
  }

  test("connectedComponents rounds leave at most 2 pinned RDDs behind") {
    // superseded rounds' cuts are dropped in the loop, not at release
    graft.plans.Checkpoints.release(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val left = try {
      val labels = Dedup.connectedComponents(chain64.toDF("left_id", "right_id"))
      assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
      sc.getPersistentRDDs.keySet.diff(before)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(left.size <= 2, s"CC left ${left.size} persistent RDDs: $left")
    graft.plans.Checkpoints.release(spark)
  }

  test("connectedComponents takes LongType ids only") {
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(Seq((1, 2)).toDF("left_id", "right_id"))
    }
  }

  test("nearDupClusters clusters exact duplicates end-to-end") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (5L, "a b c d e f g h"),
      (4L, "z y x w v u t s")
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupClusters(docs, threshold = 0.2)
      .select("cluster_id", "n_members", "members")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 3L, "1,2,5")))
  }
  test("multiBandCandidatePairs dedups cross-band collisions and never crosses bands") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),   // identical: collide in ALL 4 bands
      (3L, "p q r s t"), (4L, "x y z w v")
    ).toDF("doc_id", "text")
    val got = Dedup.multiBandCandidatePairs(docs)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L))) // once, despite 4 band collisions
  }
  test("minhashAccuracy: est is exact for identical docs") {
    // identical texts: est and exact are both 1.0, error 0
    val twins = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val r = Dedup.minhashAccuracy(twins).as[(Long, Long, Double, Double, Double)].head()
    assert(r == ((1L, 2L, 1.0, 1.0, 0.0)))
  }

  test("incrementalDedup classifies corpus re-submissions, in-batch copies, and new docs") {
    val corpus = Seq((10L, "alpha beta"), (11L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha beta"),   // re-submission of corpus text
      (21L, "fresh one"),    // genuinely new
      (22L, "fresh two"),    // new, duplicated in batch...
      (23L, "fresh two"),    // ...same text, higher id -> dup_in_batch
      (24L, "ALPHA   BETA")  // canonicalization catches case? (fingerprint lowercases+trims, not inner spaces)
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, corpus)
      .select("doc_id", "verdict", "keeper_id")
      .as[(Long, String, Option[Long])].collect()
      .map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(got(20L) == (("dup_of_corpus", None)))
    assert(got(21L) == (("new", None)))
    assert(got(22L) == (("new", None)))
    assert(got(23L) == (("dup_in_batch", Some(22L))))
    // inner whitespace differs -> different fingerprint -> new
    assert(got(24L) == (("new", None)))
  }

  test("indexed dedup ≡ incrementalDedup; corpus side reads bucketed with zero Exchange") {
    val docs = graft.Tables(spark, sf("")).documents.select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
      .unionByName(corpus.filter($"doc_id" % 7 === 1)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
    Dedup.writeDedupIndex(corpus, "dedup_index_spec")
    try {
      val direct = Dedup.incrementalDedup(batch, corpus).collect().toSeq
      // pin the co-located SMJ shape (at spec scale AQE would broadcast
      // the tiny index; at 100 TB the index is corpus-sized and this is
      // the plan that runs)
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val indexed = Dedup.incrementalDedupIndexed(spark, batch, "dedup_index_spec")
        assert(indexed.collect().toSeq == direct)
        // AdaptiveSparkPlan.toString prints Final AND Initial plans —
        // count exchanges in the final section only
        val plan = indexed.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(plan.contains("Bucketed: true"),
          s"corpus side not read as a bucketed scan:\n$plan")
        val nHash = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(nHash == 1,
          s"expected exactly ONE hash exchange (batch side only), got $nHash:\n$plan")
      }
    } finally spark.sql("DROP TABLE IF EXISTS dedup_index_spec")
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("chunkDupHistogram: planted duplication lands in the size-2 bin; mass conserved") {
    val shared = "one two three four five six" // exactly one 6-word chunk
    val docs = Seq(
      (1L, s"$shared tail a b c"),              // 10 words -> 5 chunks
      (2L, s"x y $shared z"),                   // 9 words -> 4 chunks (offset-2 copy)
      (3L, "totally different words here now ok") // 6 words -> 1 chunk
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDupHistogram(docs, chunkWords = 6)
      .as[(Long, Long, Long)].collect().toSeq
    // 10 chunks total: the shared chunk forms the one size-2 cluster
    assert(got == Seq((1L, 8L, 8L), (2L, 1L, 2L)))
    // conservation: sum(n_chunks) == total chunk count
    assert(got.map(_._3).sum == 10L)
  }

  test("splitLeakage flags a test doc whose text also lives in the train split") {
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    // derive the deterministic split assignment first, then plant one
    // duplicate across it — no hardcoded md5 prefixes in the test
    val ids = (1L to 64L).toDF("doc_id")
      .withColumn("is_test", md5(concat(lit("split|"), col("doc_id"))) < "2")
      .as[(Long, Boolean)].collect()
    val testId = ids.find(_._2).get._1
    val trainIds = ids.filterNot(_._2).map(_._1)
    val docs = (
      Seq((testId, "LEAKED text", "s1"), (trainIds.head, "leaked TEXT  ", "s1")) ++
      trainIds.tail.map(i => (i, s"unique text $i", "s1")) ++
      ids.filter(t => t._2 && t._1 != testId).map(t => (t._1, s"unique test ${t._1}", "s1"))
    ).toDF("doc_id", "text", "source")
    val got = Dedup.splitLeakage(docs).as[(String, Long, Long, Long)].head()
    val nTest = ids.count(_._2).toLong
    assert(got == (("s1", 64L - nTest, nTest, 1L))) // fingerprint ignores case/trim
  }

  test("dupRateBySource counts cross-source duplication symmetrically") {
    val docs = Seq(
      (1L, "x", "s1"), (2L, "y", "s1"),   // s1's "x" duplicates s2's
      (3L, "x", "s2"),
      (4L, "z", "s3"),
    ).toDF("doc_id", "text", "source")
    val got = Dedup.dupRateBySource(docs)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("s1") == (("s1", 2L, 1L, 0.5)))
    assert(got("s2") == (("s2", 1L, 1L, 1.0))) // its only doc exists elsewhere too
    assert(got("s3") == (("s3", 1L, 0L, 0.0)))
  }

  test("cdcChunkStats: chunks partition the words; an insertion only disturbs local chunks") {
    // deterministic pseudo-random words so boundaries are data-driven
    def wordAt(i: Int) = s"w${(i * 2654435761L) % 97}"
    val original = (0 until 400).map(wordAt).mkString(" ")
    val edited = ((0 until 200).map(wordAt) ++ Seq("INSERTED") ++
      (200 until 400).map(wordAt)).mkString(" ")
    val docs = Seq((1L, "a", original)).toDF("doc_id", "source", "text")
    val stats = Dedup.cdcChunkStats(docs).collect()
    assert(stats.length == 1)
    // chunks partition the 400 words exactly
    val r = stats(0)
    assert(r.getAs[Long]("n_chunks") * r.getAs[Double]("avg_chunk_words") == 400.0 ||
      math.abs(r.getAs[Long]("n_chunks") * r.getAs[Double]("avg_chunk_words") - 400.0) < 0.5)

    // edit-robustness: re-chunk the edited doc and compare chunk HASHES
    def chunkHashes(text: String): Seq[String] = {
      val words = text.split(" ")
      val bnds = words.indices.map { i =>
        i == 0 || (i >= 2 && {
          val h = java.security.MessageDigest.getInstance("MD5")
            .digest(s"${words(i - 2)} ${words(i - 1)} ${words(i)}".getBytes("UTF-8"))
          val nib = h(15) & 0x0f; nib == 0 || nib == 8
        })
      }
      val ids = bnds.scanLeft(0)((acc, b) => acc + (if (b) 1 else 0)).drop(1)
      words.zip(ids).groupBy(_._2).values.map(_.map(_._1).mkString(" ")).toSeq
    }
    val a = chunkHashes(original); val b = chunkHashes(edited)
    // MULTISET intersection (the periodic fixture repeats chunk contents)
    val ca = a.groupBy(identity).view.mapValues(_.size)
    val cb = b.groupBy(identity).view.mapValues(_.size).toMap
    val common = ca.map { case (k, n) => math.min(n, cb.getOrElse(k, 0)) }.sum
    assert(common >= a.size - 3,
      s"insertion disturbed ${a.size - common} of ${a.size} chunks (expected <= 3)")
    // and the driver-side reference agrees with the Spark chunk count
    assert(a.size.toLong == r.getAs[Long]("n_distinct") ||
      a.size.toLong >= r.getAs[Long]("n_distinct")) // dup chunks collapse in n_distinct
    assert(r.getAs[Long]("n_chunks") == a.size.toLong)
  }

  test("forgetPropagation: a seed's near-duplicates are deleted as collateral") {
    val docs = Seq(
      (1L, "s1", "aaa bbb ccc ddd"),   // near-dup of the seed 23 → collateral
      (23L, "s1", "aaa bbb ccc ddd"),  // seed (23 % 23 = 0)
      (2L, "s1", "other text entirely here"),
      (46L, "s2", "unique seed doc words")) // seed with no cluster → only itself
      .toDF("doc_id", "source", "text")
    val got = Dedup.forgetPropagation(docs)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("s1", 3L, 1L, 1L, 1L), ("s2", 1L, 1L, 0L, 0L)))
  }

  test("ppjoinExact: identical docs pair at jaccard 1; sub-threshold overlap excluded") {
    val docs = Seq(
      (1L, "a b c d e f"),       // shingles: abc bcd cde def (4)
      (2L, "a b c d e f"),       // identical → J = 1 with doc 1
      (3L, "a b c d e zz"),      // shares abc bcd cde → J = 3/5 < 0.8
      (4L, "completely different words here"),
    ).toDF("doc_id", "text")
    val got = Dedup.ppjoinExact(docs).as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 4L, 1.0)))
  }

  test("ppjoinExact equals the naive all-pairs join on real docs (exactness theorem)") {
    val docs = graft.Tables(spark, sf("")).documents
      .filter($"doc_id" < 120).select($"doc_id", $"text")
    val sh = docs.select($"doc_id",
      graft.functions.ShingleSet.shingleSet($"text").as("s"))
    val naive = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("l"), $"b.doc_id".as("r"),
        size(array_intersect($"a.s", $"b.s")).cast("long").as("i"),
        size($"a.s").cast("long").as("sa"), size($"b.s").cast("long").as("sb"))
      .filter(expr("9 * i >= 4 * (sa + sb)"))
      .select($"l", $"r").as[(Long, Long)].collect().toSet
    val pp = Dedup.ppjoinExact(docs)
      .select($"left_id", $"right_id").as[(Long, Long)].collect().toSet
    assert(pp == naive)
    assert(naive.nonEmpty, "fixture should contain at least one qualifying pair")
  }

  test("truncationDupPairs: blocked path, short-doc fallback, no false pairs") {
    val docs = Seq(
      // 1 is a strict prefix of 2 (both ≥ 16 chars → blocked path)
      (1L, "the quick brown fox", "en", "a", 19L),
      (2L, "the quick brown fox jumps over", "en", "a", 30L),
      // 3 shares 2's first 16 chars but is NOT a prefix (differs later)
      (3L, "the quick brown cat", "en", "a", 19L),
      // 4 is sub-16-chars and a prefix of 1 and 2 (fallback path)
      (4L, "the quick", "en", "b", 9L),
      // 5: equal text to nothing, unrelated
      (5L, "zzz unrelated document text", "en", "b", 27L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.truncationDupPairs(docs)
      .select($"trunc_id", $"full_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (4L, 1L), (4L, 3L), (4L, 2L)))
    // kept_ppm is exact integer division of the char lengths
    val ppm = Dedup.truncationDupPairs(docs)
      .filter($"trunc_id" === 1L).select($"kept_ppm").as[Long].head()
    assert(ppm == 19L * 1000000 / 30)
  }

  test("bandPlanner S-curve constants: endpoint-exact and monotone per (b, r)") {
    val c = Dedup.bandPlannerConstants(64)
    assert(c.size == 7 * 65)
    c.groupBy(x => (x._2, x._3)).foreach { case (_, rows) =>
      val byM = rows.sortBy(_._1).map(_._4)
      assert(byM.head == 0L && byM.last == 1000000000L)
      assert(byM.zip(byM.tail).forall { case (a, b) => a <= b })
    }
  }

  test("bandPlanner on an exact-duplicate corpus: zero cost, max-r split chosen") {
    val docs = Seq(0L, 8L, 16L, 24L)
      .map(id => (id, "alpha beta gamma delta epsilon zeta", "en", "s", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Dedup.bandPlanner(docs).collect()
    assert(rows.length == 7)
    // every sampled pair matches on all 64 hashes -> P = 1 exactly ->
    // no expected misses; no sub-threshold pairs exist -> no FP term
    assert(rows.forall(_.getAs[Long]("cost10") == 0L))
    val chosen = rows.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.length == 1)
    assert(chosen.head.getAs[Int]("b") == 1 && chosen.head.getAs[Int]("r") == 64)
  }
}

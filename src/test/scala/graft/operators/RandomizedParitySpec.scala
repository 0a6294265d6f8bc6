package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import scala.util.Random

/** Randomized parity checks: each distributed operator vs a naive
  * in-memory reference implementation on seeded random inputs. These
  * catch the bug classes example-based specs miss (boundary ties,
  * component shapes, bucket-edge alignment) while staying deterministic
  * (fixed seeds).
  */
class RandomizedParitySpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` at the three sides of CC's driver-finish bound for a
    * graph of `nEdges` input pairs: the default threshold (finish before
    * any round), -1 (distributed rounds to the fixpoint), and one row
    * under the symmetric edge list (hand-over after the first round,
    * which always leaves some node's label unchanged).
    */
  private def atEveryFinish(nEdges: Int)(body: String => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    for (t <- Seq(None, Some("-1"), Some((16L * (2 * nEdges - 1)).toString))) {
      t.foreach(spark.conf.set(key, _))
      try body(s"threshold=${t.getOrElse("default")}")
      finally spark.conf.unset(key)
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    // 3 seeds × 3 finish points: each distributed run pays the
    // driver-loop rounds, the slow part here
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // naive union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = nodes.map { v =>
        // canonical label = min node id in the component
        val members = nodes.filter(u => find(u.toInt) == find(v.toInt))
        v -> members.min
      }.toMap
      atEveryFinish(edges.size) { at =>
        val got = Dedup.connectedComponents(edges.toDF("left_id", "right_id"))
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"seed=$seed $at edges=$edges")
      }
    }
  }

  test("connectedComponents handles long chains in few rounds") {
    // a 64-node path: diameter 63 — neighbor-min propagation alone needs
    // ~63 rounds, the pointer jump O(log n), so a 12-round cap converges
    // only with the jump (q296's DBSCAN core graph is such an eps-chain);
    // also the worst case for label correctness (every node but one
    // relabels)
    val chain = (0L until 63L).map(i => (i, i + 1))
    atEveryFinish(chain.size) { at =>
      val got = Dedup.connectedComponents(chain.toDF("left_id", "right_id"), maxIters = 12)
        .as[(Long, Long)].collect().toMap
      assert(got.size == 64 && got.values.forall(_ == 0L), at)
    }
    // two chains + a singleton pair keep separate labels
    val two = chain ++ (100L until 110L).map(i => (i, i + 1)) ++ Seq((500L, 501L))
    atEveryFinish(two.size) { at =>
      val got2 = Dedup.connectedComponents(two.toDF("l", "r"), maxIters = 12)
        .as[(Long, Long)].collect().toMap
      assert(got2(63L) == 0L && got2(110L) == 100L && got2(501L) == 500L, at)
    }
  }

  test("asOfJoin matches a per-row scan on random event streams") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed * 7)
      def randTs() = new Timestamp(1700000000000L + rnd.nextInt(1000) * 1000L)
      val left = Seq.tabulate(40)(i => (i.toLong, rnd.nextInt(4).toLong, randTs()))
      val right = Seq.tabulate(40)(i => (rnd.nextInt(4).toLong, randTs(), s"t$i"))
      val expected = left.map { case (id, k, ts) =>
        val matches = right.filter(r => r._1 == k && !r._2.after(ts))
        // latest ts; ties broken by max tag only if payloads differ — keep
        // seeds where the latest ts is unique so the reference is well-defined
        val best = matches.sortBy(r => (r._2.getTime, r._3)).lastOption
        id -> best.map(_._2)
      }.toMap
      val tieFree = left.forall { case (_, k, ts) =>
        val ms = right.filter(r => r._1 == k && !r._2.after(ts)).map(_._2.getTime)
        ms.isEmpty || ms.count(_ == ms.max) == 1
      }
      if (tieFree) {
        val got = AsOfJoin.asOfJoin(left.toDF("event_id", "user_id", "ts"),
            right.toDF("user_id", "ts", "tag"), "user_id", "ts", "ts", carry = Seq("tag"))
          .selectExpr("event_id", "asof.__asof_ts")
          .as[(Long, Option[Timestamp])].collect().toMap
        assert(got == expected, s"seed=$seed")
      }
    }
  }

  test("bucketedRangeJoin matches a naive BETWEEN join on random intervals") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed * 13)
      def randTs(spread: Int) = new Timestamp(1700000000000L + rnd.nextInt(spread) * 60000L)
      val points = Seq.tabulate(50)(i => (i.toLong, rnd.nextInt(3).toLong, randTs(600)))
      val intervals = Seq.tabulate(10) { i =>
        val s = randTs(600)
        (rnd.nextInt(3).toLong, i.toLong, s, new Timestamp(s.getTime + rnd.nextInt(180) * 60000L))
      }
      val expected = (for {
        (pid, pk, pts) <- points
        (ik, iid, s, e) <- intervals
        if pk == ik && !pts.before(s) && !pts.after(e)
      } yield (pid, iid)).toSet
      val got = RangeJoin.bucketedRangeJoin(
          points.toDF("point_id", "user_id", "err_ts"),
          intervals.toDF("user_id", "iv_id", "session_start", "session_end"),
          "user_id", "err_ts", "session_start", "session_end")
        .select("point_id", "iv_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("topk sketch candidates always contain every item above the frequency guarantee") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed * 31)
      val capacity = 4
      // zipf-ish stream over 20 items
      val stream = Seq.fill(400)(s"w${math.min(rnd.nextInt(rnd.nextInt(20) + 1), 19)}")
      val n = stream.size
      val mustSurvive = stream.groupBy(identity).collect {
        case (w, occ) if occ.size.toLong * (capacity + 1) > n => w
      }.toSet
      val cands = stream.toDF("token").repartition(7)
        .agg(graft.functions.TopKSketch.topkCandidates(
          org.apache.spark.sql.functions.col("token"), capacity).as("c"))
        .head().getSeq[String](0).toSet
      assert(mustSurvive.subsetOf(cands), s"seed=$seed missing=${mustSurvive -- cands}")
    }
  }

  private def randomDocs(rnd: Random, n: Int, vocab: Int = 8): Seq[(Long, String)] =
    (0L until n).map { id =>
      id -> Seq.fill(rnd.nextInt(12) + 1)(s"w${rnd.nextInt(vocab)}").mkString(" ")
    }

  test("boilerplateGramRatio matches a naive in-memory computation on random docs") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed * 7)
      val docs = randomDocs(rnd, 40, vocab = 4) // small vocab -> frequent grams exist
      val n = 4; val minDocs = 3
      val grams = docs.map { case (id, t) =>
        val ts = t.split(" ", -1)
        id -> (if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toSeq else Seq.empty)
      }.toMap
      val df = grams.toSeq.flatMap { case (id, gs) => gs.distinct.map(g => (g, id)) }
        .groupBy(_._1).map { case (g, occ) => g -> occ.size }
      val frequent = df.collect { case (g, c) if c >= minDocs => g }.toSet
      val expected = grams.collect { case (id, gs) if gs.nonEmpty =>
        val boiler = gs.count(frequent)
        (id, gs.size.toLong, boiler.toLong,
          math.rint(boiler.toDouble / gs.size * 10000) / 10000)
      }.toSet
      val got = TextAnalysis.boilerplateGramRatio(docs.toDF("doc_id", "text"), n, minDocs)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("perSourceCap keeps exactly the top-cap docs per source on random corpora") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed * 13)
      val docs = (0L until 60L).map(id =>
        (id, s"s${rnd.nextInt(4)}", rnd.nextInt(5).toLong * 100)) // heavy n_chars ties
      val cap = 3
      val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
        rows.sortBy(r => (-r._3, r._1)).take(cap).zipWithIndex
          .map { case ((id, s, nc), i) => (s, id, nc, (i + 1).toLong) }
      }.toSet
      val got = CorpusOps.perSourceCap(
          docs.toDF("doc_id", "source", "n_chars"), cap)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("incrementalDedup verdicts partition the batch and agree with a naive pass") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed * 17)
      // tiny text space -> lots of collisions within and across sides
      val corpus = (0L until 20L).map(id => (id, s"t${rnd.nextInt(8)}"))
      val batch = (100L until 130L).map(id => (id, s"t${rnd.nextInt(12)}"))
      val corpusTexts = corpus.map(_._2).toSet
      val expected = batch.map { case (id, t) =>
        if (corpusTexts(t)) (id, "dup_of_corpus", None)
        else {
          val sameText = batch.filter(b => b._2 == t && !corpusTexts(b._2)).map(_._1)
          if (id == sameText.min) (id, "new", None)
          else (id, "dup_in_batch", Some(sameText.min))
        }
      }.toSet
      val got = Dedup.incrementalDedup(
          batch.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"))
        .select("doc_id", "verdict", "keeper_id")
        .as[(Long, String, Option[Long])].collect().toSet
      assert(got == expected, s"seed=$seed")
      assert(got.size == batch.size) // every batch doc, exactly one verdict
    }
  }
}

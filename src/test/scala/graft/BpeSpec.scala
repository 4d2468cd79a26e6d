package graft

import org.apache.spark.sql.functions._
import graft.text.Bpe

/** [[Bpe]] apply semantics: hand-verified tokenizations, the priority-order
  * contract, and the graded dataflow (l49's replace-chain expression)
  * cross-checked per document against the independent driver-side
  * reference implementation.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("hand-verified tokenizations, including multi-step merged-symbol builds") {
    assert(BpeRef.applyRef("spark") === Seq("spark"))   // s+p, sp+ar, spar+k
    assert(BpeRef.applyRef("join") === Seq("join"))     // j+o, jo+in
    assert(BpeRef.applyRef("batch") === Seq("batch"))   // four-step build
    assert(BpeRef.applyRef("window") === Seq("win", "d", "ow"))
    assert(BpeRef.applyRef("filter") === Seq("fil", "t", "er"))
    assert(BpeRef.applyRef("stream") === Seq("str", "e", "a", "m"))
    assert(BpeRef.applyRef("sparrow") === Seq("spar", "row"))
    assert(BpeRef.applyRef("x") === Seq("x"))
    assert(BpeRef.applyRef("") === Seq.empty)
  }

  test("priority order is semantics: an earlier rule consumes symbols a later rule wanted") {
    // (i,n) outranks (i,l): in "inl" the i fuses with n, so (i,l) never
    // fires; in "ilm" no n competes and (i,l) does
    assert(BpeRef.applyRef("inl") === Seq("in", "l"))
    assert(BpeRef.applyRef("ilm") === Seq("il", "m"))
    // left-to-right non-overlap within one rule: "ererer" pairs as (er)(er)(er),
    // "rerere" as r(er)(er)e — the offset shifts which pairs exist
    assert(BpeRef.applyRef("ererer") === Seq("er", "er", "er"))
    assert(BpeRef.applyRef("rerere") === Seq("r", "er", "er", "e"))
  }

  test("the replace-chain expression computes the reference apply, word for word") {
    // every distinct word in the sf0.001 corpus through BOTH paths
    val words = Tables(spark, sfDir).documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
    val viaExpr = words
      .withColumn("m", expr(Bpe.mergeChain(Bpe.bracketSpark("word"))))
      .withColumn("n_tok", expr(Bpe.tokenCount("m")))
      .select(col("word"), col("m"), col("n_tok").cast("long"))
      .as[(String, String, Long)].collect()
    assert(viaExpr.nonEmpty)
    viaExpr.foreach { case (w, m, n) =>
      val ref = BpeRef.applyRef(w)
      assert(m === ref.map(s => s"($s)").mkString(""),
        s"'$w': expression chain produced $m, reference ${ref.mkString("|")}")
      assert(n === ref.length.toLong, s"'$w': token count $n != ${ref.length}")
    }
    // and the merges genuinely fire on the fixture: at least one word
    // compresses below its character count
    assert(viaExpr.exists { case (w, _, n) => n < w.length },
      "no merge fired on the corpus vocabulary — the rule table is dead")
  }

  test("l49's per-doc counts equal a full driver-side recomputation") {
    val got = SparkEntry.queries("l49_bpe_tokenize")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val want = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty)
        (id, ws.length.toLong, ws.map(_.length.toLong).sum,
         ws.map(w => BpeRef.applyRef(w).length.toLong).sum)
      }.sortBy(_._1).toSeq
    assert(got === want)
  }

  test("alphabet guard (ADVICE r14): paren-bearing words are stripped identically in expression and reference") {
    // '(' used to encode as "(()" and break the delimiter invariant
    // (tokenCount overcounted); the guard strips parens BEFORE bracketing
    // on both paths, and an all-paren word tokenizes to zero
    val fixtures = Seq("(spark)", "a(b)c", "((((", "()", "(er)", "x")
    val viaExpr = fixtures.toDF("word")
      .withColumn("m", expr(Bpe.mergeChain(Bpe.bracketSpark("word"))))
      .withColumn("n_tok", expr(Bpe.tokenCount("m")))
      .select(col("word"), col("m"), col("n_tok").cast("long"))
      .as[(String, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    fixtures.foreach { w =>
      val ref = BpeRef.applyRef(w)
      val (m, n) = viaExpr(w)
      assert(m === ref.map(s => s"($s)").mkString(""),
        s"'$w': expression $m, reference ${ref.mkString("|")}")
      assert(n === ref.length.toLong)
    }
    // the invariant itself: "(spark)" strips to "spark" and fuses to ONE
    // token; all-paren words are zero tokens, never phantom symbols
    assert(viaExpr("(spark)")._2 === 1L)
    assert(viaExpr("((((")._2 === 0L && viaExpr("()")._2 === 0L)
    assert(viaExpr("(er)")._2 === 1L)
  }

  test("learn recovers frequency-ordered merges and matches the driver-side Sennrich reference") {
    // a corpus engineered so the learned order is hand-checkable:
    // "ab" dominates, then (ab, c) from the abc cluster, then (d, e)
    val words = Seq.fill(8)("abc") ++ Seq.fill(5)("abx") ++ Seq.fill(3)("de") ++ Seq("zq")
    val learned = Bpe.learn(words.toDF("word"), nMerges = 4)
    val ref = BpeRef.learnRef(words, 4)
    assert(learned === ref, s"dataflow learn $learned != reference $ref")
    assert(learned.take(2) === Seq("a" -> "b", "ab" -> "c"))
    // applying the learned table agrees between expression chain and
    // reference on every trained word
    val viaExpr = words.distinct.toDF("word")
      .withColumn("m", Bpe.applyLearned(col("word"), learned))
      .withColumn("n_tok", Bpe.tokenCountCol(col("m")))
      .select(col("word"), col("m"), col("n_tok"))
      .as[(String, String, Long)].collect()
    viaExpr.foreach { case (w, m, n) =>
      val r = BpeRef.applyRef(w, learned)
      assert(m === r.map(s => s"($s)").mkString(""), s"'$w': $m vs ${r.mkString("|")}")
      assert(n === r.length.toLong)
    }
  }

  test("learn on the corpus matches learnRef and runs out of pairs gracefully") {
    val corpus = Tables(spark, sfDir).documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val learned = Bpe.learn(corpus, nMerges = 12)
    val refWords = corpus.as[String].collect().toSeq
    assert(learned === BpeRef.learnRef(refWords, 12))
    assert(learned.nonEmpty)
    // degenerate vocabulary: single characters have no pairs — learn
    // stops early instead of looping or erroring
    assert(Bpe.learn(Seq("a", "b", "a").toDF("word"), nMerges = 5) === Seq.empty)
    // and a fully-mergeable tiny vocab stops when pairs run out
    val tiny = Bpe.learn(Seq("aa").toDF("word"), nMerges = 5)
    assert(tiny === BpeRef.learnRef(Seq("aa"), 5))
  }

  test("learnBatched equals the sequential Sennrich reference on the corpus (VERDICT r15 #5)") {
    val corpus = Tables(spark, sfDir).documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val refWords = corpus.as[String].collect().toSeq
    for (batch <- Seq(1, 4, 16)) {
      assert(Bpe.learnBatched(corpus, nMerges = 24, maxBatch = batch) ===
        BpeRef.learnRef(refWords, 24), s"maxBatch=$batch diverged from sequential")
    }
  }

  test("learnBatched overtake fixture: a created pair outranks a disjoint lower pick") {
    // the adversarial shape from the batching proof: after fusing (a,b),
    // the CREATED pair (x,ab) — count 59, from the destroyed (x,a) —
    // outranks (c,d)=58, so a batcher that skipped the conflicting (x,a)
    // and took the disjoint (c,d) in the same round would diverge from
    // sequential. The prefix cut + overtake guard must yield exactly the
    // sequential table: (a,b), (x,ab), (c,d), ...
    val words =
      Seq.fill(59)("xab") ++   // (x,a)=59, (a,b)=59
      Seq.fill(1)("ab") ++     // (a,b) -> 60: the unambiguous first pick
      Seq.fill(58)("cd")       // (c,d)=58
    val df = words.toDF("word")
    val ref = BpeRef.learnRef(words, 4)
    // sequential: (a,b) first; then the created (x,ab)=59 overtakes (c,d)=58
    assert(ref.take(3) === Seq(("a", "b"), ("x", "ab"), ("c", "d")))
    for (batch <- Seq(2, 8)) {
      assert(Bpe.learnBatched(df, nMerges = 4, maxBatch = batch) === ref,
        s"maxBatch=$batch diverged on the overtake fixture")
    }
  }

  test("learnBatched equals learnRef across randomized small-alphabet fixtures") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 8).foreach { trial =>
      val alpha = "abcd".take(2 + rnd.nextInt(3))
      val words = Seq.fill(40 + rnd.nextInt(40)) {
        (0 until (1 + rnd.nextInt(6))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
      val n = 3 + rnd.nextInt(8)
      val got = Bpe.learnBatched(words.toDF("word"), nMerges = n,
        maxBatch = 1 + rnd.nextInt(8))
      assert(got === BpeRef.learnRef(words, n), s"trial $trial: $words")
    }
  }

  test("a learned table persists and reloads in priority order; the reloaded table tokenizes identically") {
    val words = Tables(spark, sfDir).documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").limit(2000)
      .transform(graft.graph.Materialize.apply)
    val learned = Bpe.learn(words, nMerges = 8)
    assert(learned.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString + "/merges"
    Bpe.save(learned, spark, dir)
    val reloaded = Bpe.load(spark, dir)
    assert(reloaded === learned, "priority order is load-bearing and must round-trip")
    // the reloaded table drives the SAME tokenization through the
    // codegen'd apply chain
    val sample = words.limit(50)
    def toks(t: Seq[(String, String)]) = sample
      .select(col("word"), Bpe.applyLearned(col("word"), t).as("m"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(toks(reloaded) === toks(learned))
  }
}

/** The driver-side BPE references [[BpeSpec]] checks [[Bpe]]'s dataflow
  * against. */
object BpeRef {
  /** Driver-side reference apply: per rule in priority order, fuse
    * left-to-right non-overlapping pair occurrences — the same function
    * the replace chain computes. Strips
    * reserved parens first (the alphabet guard, mirrored with
    * [[Bpe.bracketSpark]]/[[Bpe.bracketDuck]]). */
  def applyRef(word: String): Seq[String] = applyRef(word, Bpe.merges)

  /** [[applyRef]] against an arbitrary merge table (the learned-table
    * spec path). */
  def applyRef(word: String, table: Seq[(String, String)]): Seq[String] = {
    var syms = word.filterNot(c => c == '(' || c == ')').map(_.toString).toVector
    for ((a, b) <- table) {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  /** Driver-side reference LEARNER (an independent Sennrich
    * `learn_bpe`): per round, count adjacent symbol pairs over the
    * occurrence-weighted distinct-word segmentations (every adjacent index
    * pair counts — "aaa" contributes (a,a) twice), fuse the (count desc,
    * a asc, b asc) max everywhere, repeat. The same function [[Bpe.learn]]
    * computes as dataflow. */
  def learnRef(words: Seq[String], nMerges: Int): Seq[(String, String)] = {
    val counts = words.iterator
      .map(_.filterNot(c => c == '(' || c == ')'))
      .filter(_.nonEmpty)
      .foldLeft(Map.empty[String, Long]) { (m, w) =>
        m.updated(w, m.getOrElse(w, 0L) + 1L)
      }
    var vocab: Map[Vector[String], Long] = counts.map { case (w, n) =>
      w.map(_.toString).toVector -> n
    }
    val picked = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val (a, b) = pairCounts.toSeq
          .sortBy { case ((pa, pb), c) => (-c, pa, pb) }.head._1
        picked += ((a, b))
        vocab = vocab.map { case (syms, n) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result() -> n
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
      round += 1
    }
    picked.toSeq
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.text.Pq

/** Product quantization semantics beyond the l53 oracle hash: the code
  * layout (m codes per vector, ≤k entries per subspace codebook), the
  * encode invariant (stored codes ARE the argmin against the stored
  * codebook), a driver-side ADC recomputation, and the quality claim
  * that makes PQ useful at all — ADC distances track exact distances
  * well enough that the exact nearest neighbors surface in the ADC
  * front (recall floor on the fixture).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val m = 8
  private val k = 16
  private lazy val emb = Tables(spark, sfDir).embeddings
  private lazy val corp = emb.filter(col("vec_id") =!= 0)
    .select(col("vec_id"), col("embedding"))
  private lazy val q = emb.filter(col("vec_id") === 0)
    .select(col("vec_id"), col("embedding"))
  private lazy val (cb, codes) = Pq.model(corp, m, k)

  private lazy val vecs: Map[Long, Array[Double]] = emb
    .select(col("vec_id"), expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
    .as[(Long, Seq[Double])].collect().map { case (i, v) => i -> v.toArray }.toMap

  test("code layout: m codes per vector, one per subspace; codebooks have at most k entries of subDim positions") {
    val byVec = codes.as[(Long, Long, Long)].collect().groupBy(_._1)
    assert(byVec.nonEmpty)
    byVec.foreach { case (id, rows) =>
      assert(rows.length === m, s"vector $id has ${rows.length} codes")
      assert(rows.map(_._2).sorted.toSeq === (0L until m.toLong), s"vector $id subs")
    }
    val book = cb.as[(Long, Long, Long, Double)].collect()
    val bySub = book.groupBy(_._1)
    assert(bySub.keySet === (0L until m.toLong).toSet)
    bySub.foreach { case (sub, rows) =>
      assert(rows.map(_._2).distinct.length <= k, s"subspace $sub codebook > $k entries")
      rows.groupBy(_._2).foreach { case (cid, ps) =>
        assert(ps.map(_._3).sorted.toSeq ===
          (sub * 8 until sub * 8 + 8).map(_.toLong).toSeq,
          s"codebook ($sub, $cid) positions wrong")
      }
    }
  }

  test("stored codes are the argmin against the stored codebook (encode invariant), driver-recomputed") {
    val book = cb.as[(Long, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._3).map(_._4).toArray).toMap
    val stored = codes.as[(Long, Long, Long)].collect()
      .map { case (v, s, c) => (v, s) -> c }.toMap
    stored.keys.map(_._1).toSeq.distinct.take(50).foreach { id =>
      val v = vecs(id)
      (0 until m).foreach { s =>
        val best = book.keys.filter(_._1 == s).toSeq.map { key =>
          val c = book(key)
          var d = 0.0
          (0 until 8).foreach { j =>
            val diff = v(s * 8 + j) - c(j); d += diff * diff
          }
          (d, key._2)
        }.min
        assert(stored((id, s.toLong)) === best._2,
          s"vector $id subspace $s: stored code ${stored((id, s.toLong))} != argmin ${best._2}")
      }
    }
  }

  test("ADC equals a driver-side recomputation (table lookups in fixed subspace order)") {
    val got = Pq.adc(cb, codes, q, m).as[(Long, Double)].collect().toMap
    val book = cb.as[(Long, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._3).map(_._4).toArray).toMap
    val stored = codes.as[(Long, Long, Long)].collect()
      .map { case (v, s, c) => (v, s) -> c }.toMap
    val qv = vecs(0L)
    val table = book.map { case ((s, cid), c) =>
      var d = 0.0
      (0 until 8).foreach { j => val diff = qv((s * 8 + j).toInt) - c(j); d += diff * diff }
      (s, cid) -> d
    }
    got.foreach { case (id, pqd2) =>
      var d = 0.0
      (0 until m).foreach { s => d += table((s.toLong, stored((id, s.toLong)))) }
      assert(math.abs(pqd2 - math.rint(d * 1e6) / 1e6) < 2e-6,
        s"vector $id: ADC $pqd2 != recomputed $d")
    }
    assert(got.size === vecs.size - 1)
  }

  test("the packed serving scan computes the join-form ADC bit-for-bit (and l53 grades the packed path)") {
    val joinForm = Pq.adc(cb, codes, q, m)
      .as[(Long, Double)].collect().toMap
    val packedForm = Pq.adcPacked(cb, Pq.pack(codes, m), q, m)
      .as[(Long, Double)].collect().toMap
    assert(packedForm === joinForm,
      "packed CASE-lookup scan diverged from the join-form ADC")
    // packed layout: exactly one row per vector, m codes in sub order
    val packed = Pq.pack(codes, m).as[(Long, Seq[Long])].collect()
    assert(packed.length === packedForm.size)
    val byVec = codes.as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    packed.foreach { case (id, cs) =>
      assert(cs.length === m && cs === byVec(id), s"vector $id packed codes wrong")
    }
  }

  test("ADC front recalls the exact nearest neighbors (the compression is useful, not just fast)") {
    val qv = vecs(0L)
    def d2(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - qv(i); s += d * d; i += 1 }
      s
    }
    val exactTop10 = vecs.toSeq.filter(_._1 != 0L)
      .sortBy { case (i, v) => (d2(v), i) }.take(10).map(_._1).toSet
    val adcTop50 = Pq.adc(cb, codes, q, m).as[(Long, Double)].collect()
      .sortBy { case (i, d) => (d, i) }.take(50).map(_._1).toSet
    val recall = (exactTop10 intersect adcTop50).size / 10.0
    assert(recall >= 0.7,
      s"ADC top-50 recalls only ${recall * 100}%% of the exact top-10")
    info(f"ADC@50 recall of exact top-10: ${recall * 100}%.0f%%")
  }

  // ---- the persisted code table (VERDICT r15 #2): save/load, append
  // (encode-only ingest), erasure — the IvfIndex/LshIndex maintenance trio

  private def shardListing(dir: String): Map[String, Seq[String]] = {
    val root = new java.io.File(dir, "codes")
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .map(d => d.getName ->
        d.listFiles().map(f => f.getName + ":" + f.length).sorted.toSeq)
      .toMap
  }

  private def packedSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Seq[Long])] =
    df.as[(Long, Seq[Long])].collect().toSet

  test("save/load round-trips: the loaded store serves the identical packed ADC") {
    val dir = java.nio.file.Files.createTempDirectory("pq").toString
    Pq.save(cb, Pq.pack(codes, m), dir, m)
    val st = Pq.load(spark, dir)
    assert(st.m === m && st.subDim === 8)
    val served = Pq.adcPacked(st.codebook, st.codes, q, st.m)
      .as[(Long, Double)].collect().toMap
    val inMem = Pq.adcPacked(cb, Pq.pack(codes, m), q, m)
      .as[(Long, Double)].collect().toMap
    assert(served === inMem, "loaded store diverged from the in-memory ADC")
  }

  test("encodeTo appends arrivals against the FIXED codebooks and equals the one-pass encode of the union") {
    val base = corp.filter(col("vec_id") % 7 =!= 0)
    val delta = corp.filter(col("vec_id") % 7 === 0)
    val (cbBase, codesBase) = Pq.model(base, m, k)
    val dir = java.nio.file.Files.createTempDirectory("pq").toString
    Pq.save(cbBase, Pq.pack(codesBase, m), dir, m, rowsPerShard = 16L)
    Pq.encodeTo(spark, dir, delta)
    val appended = packedSet(Pq.load(spark, dir).codes)
    // encode is a pure per-vector function of (codebook, vector), so
    // base-then-delta must equal encoding the union in one pass
    val unionOnePass = packedSet(Pq.pack(Pq.encode(cbBase, corp, m), m))
    assert(appended === unionOnePass,
      "appended code table != one-pass encode of the union against the same codebooks")
  }

  test("removeFrom rewrites only touched shards, drops emptied ones, keeps the codebook, and is replay-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("pq").toString
    Pq.save(cb, Pq.pack(codes, m), dir, m, rowsPerShard = 16L)
    val before = shardListing(dir)
    assert(before.size >= 3, s"fixture too small to shard (got ${before.keySet})")
    val bookBefore = new java.io.File(dir, "codebook").listFiles()
      .map(f => f.getName + ":" + f.length).sorted.toSeq
    // a contiguous erasure batch: all of shard 1's id range plus strays
    val eraseIds = corp.filter(
        (col("vec_id") >= 16 && col("vec_id") < 32) ||
        col("vec_id").isin(50L, 51L))
      .select("vec_id")
    val stats = Pq.removeFrom(spark, dir, eraseIds)
    assert(stats.nRemoved === eraseIds.count())
    assert(stats.rewrittenShards.toSet === Set(1L, 3L),
      s"contiguous batch must touch exactly its shards: ${stats.rewrittenShards}")
    val after = shardListing(dir)
    assert(!after.contains("shard=1"),
      "shard 1 lost every row but its directory survived")
    (before.keySet - "shard=1" - "shard=3").foreach { d =>
      assert(after.get(d) === before.get(d),
        s"$d outside the rewrite set changed on disk")
    }
    // codebook untouched (erasure never moves the tessellation)
    assert(new java.io.File(dir, "codebook").listFiles()
      .map(f => f.getName + ":" + f.length).sorted.toSeq === bookBefore)
    // erased vectors are gone from the serving scan; survivors intact
    val erased = eraseIds.as[Long].collect().toSet
    val served = Pq.load(spark, dir).codes.as[(Long, Seq[Long])].collect()
    assert(!served.exists(r => erased(r._1)), "an erased vector still serves")
    assert(served.map(_._1).toSet ===
      packedSet(Pq.pack(codes, m)).map(_._1) -- erased)
    // replay: the same batch again is a no-op on disk
    val replay = Pq.removeFrom(spark, dir, eraseIds)
    assert(replay.nRemoved === 0L && replay.rewrittenShards.isEmpty)
    assert(shardListing(dir) === after)
  }

  // ---- residual (IVFADC) encoding: VERDICT r15 #1

  test("residual ADC equals a driver-side recomputation with per-bucket query tables") {
    import graft.text.IvfIndex
    val idx = IvfIndex.build(corp, 8)
    val centsDf = idx.centroids.toSeq.toDF("cluster", "centroid")
    val res = Pq.residuals(corp, idx.assigned.select("vec_id", "cluster"), centsDf)
    val (rcb, rcodes) = Pq.model(res.select(col("vec_id"), col("embedding")), m, k)
    val packed = Pq.pack(rcodes, m).join(res.select("vec_id", "cluster"), "vec_id")
    val qv = vecs(0L)
    val probed = idx.nearestClusters(qv, 2).toSeq
    val got = Pq.adcPackedResidual(rcb, packed, q, idx.centroids, probed, m)
      .as[(Long, Double)].collect().toMap
    // driver recomputation: per candidate, the sum of its m lookups in
    // ITS bucket's query-residual table
    val book = rcb.as[(Long, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._3).map(_._4).toArray).toMap
    val stored = rcodes.as[(Long, Long, Long)].collect()
      .map { case (v, s, c) => (v, s) -> c }.toMap
    val clusterOf = idx.assigned.select(col("vec_id"), col("cluster"))
      .as[(Long, Long)].collect().toMap
    val centById = idx.centroids.toMap
    val probedSet = probed.toSet
    val expected = clusterOf.filter { case (id, cl) => id != 0L && probedSet(cl) }
      .map { case (id, cl) =>
        val cent = centById(cl)
        var d = 0.0
        (0 until m).foreach { s =>
          val c = book((s.toLong, stored((id, s.toLong))))
          var j = 0
          while (j < 8) {
            val diff = (qv(s * 8 + j) - cent(s * 8 + j)) - c(j); d += diff * diff; j += 1
          }
        }
        id -> math.rint(d * 1e6) / 1e6
      }
    assert(got.keySet === expected.keySet,
      "residual scan scored a different candidate set than the probed buckets' members")
    got.foreach { case (id, v) =>
      assert(math.abs(v - expected(id)) < 2e-6, s"vector $id: $v != ${expected(id)}")
    }
  }

  test("residual encoding beats raw-vector PQ on ADC distance error (the IVFADC point)") {
    import graft.text.IvfIndex
    val idx = IvfIndex.build(corp, 8)
    val centsDf = idx.centroids.toSeq.toDF("cluster", "centroid")
    val res = Pq.residuals(corp, idx.assigned.select("vec_id", "cluster"), centsDf)
    val (rcb, rcodes) = Pq.model(res.select(col("vec_id"), col("embedding")), m, k)
    val packed = Pq.pack(rcodes, m).join(res.select("vec_id", "cluster"), "vec_id")
    val qv = vecs(0L)
    val allClusters = idx.centroids.map(_._1).toSeq // probe everything: compare on the full corpus
    val residualD = Pq.adcPackedResidual(rcb, packed, q, idx.centroids, allClusters, m)
      .as[(Long, Double)].collect().toMap
    val rawD = Pq.adcPacked(cb, Pq.pack(codes, m), q, m)
      .as[(Long, Double)].collect().toMap
    def exact(id: Long): Double = {
      val v = vecs(id); var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - qv(i); s += d * d; i += 1 }
      s
    }
    val ids = residualD.keySet
    assert(ids === rawD.keySet)
    val errRes = ids.toSeq.map(id => math.abs(residualD(id) - exact(id))).sum / ids.size
    val errRaw = ids.toSeq.map(id => math.abs(rawD(id) - exact(id))).sum / ids.size
    info(f"mean |ADC - exact|: residual $errRes%.4f vs raw $errRaw%.4f")
    assert(errRes < errRaw,
      f"residual encoding ($errRes%.4f) did not beat raw ($errRaw%.4f) on mean ADC error")
  }
}

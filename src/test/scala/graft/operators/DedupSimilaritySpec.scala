package graft.operators

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}

/** Cross-checks the approximate operators against their exact
  * counterparts on real data (sf0.001) — the guarantees the oracle
  * can't express in SQL.
  */
class DedupSimilaritySpec extends AnyFunSuite {

  test("minhash-LSH finds every exact-Jaccard>=0.8 pair (verified candidates => no false positives)") {
    val exact = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-dup pairs")
    // verification step makes every reported pair truly >= 0.8
    assert(lsh.subsetOf(exact), "no unverified pairs")
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (128 perms, 32 bands)")
  }

  test("simhash blocks have exact recall for hamming<=3 (pigeonhole) and pairs overlap jaccard dups") {
    val rows = Dedup.simhash(spark, sfDir).collect()
    assert(rows.forall(_.getInt(2) <= 3))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == rows.length, "pairs are distinct")
    val exact = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-identical documents should collide under simhash too
    assert((pairs & exact).size >= exact.size / 2,
      s"simhash found ${(pairs & exact).size} of ${exact.size} jaccard dups")
    // the driver-oracled md5-60 family satisfies the same contracts:
    // hamming bound, distinct pairs, and jaccard-dup overlap
    val oRows = Dedup.simhash(spark, sfDir, oracleHash = true).collect()
    assert(oRows.forall(_.getInt(2) <= 3))
    val oPairs = oRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oPairs.size == oRows.length)
    assert((oPairs & exact).size >= exact.size / 2,
      s"md5-60 simhash found ${(oPairs & exact).size} of ${exact.size} jaccard dups")
  }

  test("IVF kNN attains reasonable recall vs brute force") {
    val brute = Similarity.knnBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val ivf = Similarity.knnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val hits = brute.keys.map(q => (brute(q) & ivf.getOrElse(q, Set.empty)).size).sum
    val recall = hits.toDouble / (brute.size * 5)
    assert(recall >= 0.3, s"IVF recall@5 $recall below 0.3 (nprobe=2 of 8)")
    // every IVF result must be a genuine corpus vector with rank 1..5
    assert(ivf.values.forall(s => s.size <= 5))
  }

  test("embedding dedup pairs are symmetric-free and above threshold") {
    val rows = Dedup.embeddingDedup(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.45 - 1e-6)
    }
  }

  test("cell-blocked dedup is exact on the real corpus and prunes >=10x on clustered data") {
    import spark.implicits._
    // exactness on the real (isotropic — worst case) corpus: the cell
    // bound must not lose a single qualifying pair vs brute force
    val brute = {
      val e = graft.sources.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      def cos(a: Array[Double], b: Array[Double]) = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      (for {
        (i, ea) <- e; (j, eb) <- e
        if i < j && cos(ea, eb) >= 0.45
      } yield (i, j)).toSet
    }
    val blocked = Dedup.embeddingDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocked ${blocked.size} vs brute ${brute.size}")

    // pruning on clustered data (the production near-dup case):
    // 20 tight planted clusters -> the angular cell bound must kill
    // nearly every cross-cell pair
    val dim = 64
    def unit(seed: Long): Array[Double] = {
      val v = Array.tabulate(dim)(d =>
        2.0 * graft.functions.Hashing.toUnitDouble(seed * 7919L + d) - 1.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.tabulate(20)(c => unit(c + 1000L))
    val pts = (0 until 1000).map { i =>
      val c = centers(i % 20)
      val noise = unit(i + 5000L)
      val v = c.zip(noise).map { case (x, e) => x + 0.05 * e }
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq)
    }
    val clustered = pts.toDF("vec_id", "embedding")
      .withColumn("nrm", lit(1.0))
    val allPairs = 1000L * 999 / 2
    val cand = Dedup.embeddingCandidatesFor(spark, clustered, 0.8).count()
    info(s"clustered candidates: $cand of $allPairs all-pairs")
    assert(cand <= allPairs / 10,
      s"cell bound should prune >=10x on clustered data ($cand of $allPairs)")
    // and stays exact there too
    val ded = Dedup.embeddingDedupFor(spark, pts.toDF("vec_id", "embedding"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteC = (for {
      (i, ea) <- pts; (j, eb) <- pts
      if i < j
      d = ea.zip(eb).map { case (x, y) => x.toDouble * y }.sum
      if d >= 0.8
    } yield (i, j)).toSet
    assert(ded == bruteC, s"clustered blocked ${ded.size} vs brute ${bruteC.size}")
  }

  test("IVF assignment plan stays O(1) in K (broadcast relation, not K literals)") {
    val big = Similarity.knnIvf(spark, sfDir, numClusters = 64, lloydIters = 1, nprobe = 8)
    val plan = big.queryExecution.executedPlan.toString
    // the old shape embedded one named_struct literal per centroid in
    // every operator; the join-based plan must not scale with K
    val structs = "named_struct".r.findAllIn(plan).size
    assert(structs < 16, s"$structs struct literals in plan — assignment still scales with K")
    assert(big.count() > 0)
  }

  test("exact dedup returns empty on dup-free corpus") {
    assert(Dedup.exact(spark, sfDir).count() == 0)
  }

  test("exact dedup finds planted duplicate groups (positive path)") {
    import spark.implicits._
    val docs = Seq(
      (3L, "alpha beta gamma"), (2L, "unique one"), (1L, "alpha beta gamma"),
      (7L, "alpha beta gamma"), (5L, "delta delta"), (4L, "delta delta"),
      (6L, "solo document")
    ).toDF("doc_id", "text")
    val rows = Dedup.exactFor(docs).collect()
    assert(rows.length == 2, s"expected 2 dup groups, got ${rows.length}")
    // (min_doc_id -> n_docs): the triple collapses to doc 1, the pair to doc 4
    val byMin = rows.map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(byMin == Map(1L -> 3L, 4L -> 2L), s"groups were $byMin")
    // hashes are distinct per group
    assert(rows.map(_.getString(0)).distinct.length == 2)
  }

  test("connected components: 50-node chain converges within the O(log D) round bound") {
    import spark.implicits._
    // worst-case diameter: a path graph 0-1-2-...-49 (plus an isolated
    // pair so multiple components coexist)
    val chain = (0L until 49L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val (labels, rounds) = Dedup.connectedComponentsFor(chain.toDF("a_id", "b_id"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 52)
    (0L to 49L).foreach(i => assert(got(i) == 0L, s"node $i labeled ${got(i)}"))
    assert(got(100L) == 100L && got(101L) == 100L)
    // 3 plain rounds + pointer-jump doubling + 1 detection round ≪ D=49
    val bound = 2 * math.ceil(math.log(50.0) / math.log(2.0)).toInt + 3
    assert(rounds <= bound, s"$rounds rounds exceeds O(log D) bound $bound")
    info(s"50-chain converged in $rounds rounds (bound $bound, plain propagation would need ~49)")
  }

  test("connected components: shallow components converge before the jump machinery engages") {
    import spark.implicits._
    // triangle + star + pair: every diameter ≤ 2, the common dup-corpus case
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.connectedComponentsFor(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    assert(rounds <= Dedup.CcJumpAfter,
      s"shallow corpus took $rounds rounds — paid for the deep-chain path")
  }

  test("connected components: an EMPTY edge set returns an empty labeling, no NULL-sum crash") {
    import spark.implicits._
    // the rep graph is legitimately empty when a corpus's only
    // duplicates are exact ones (cliques, no cross-content edges) —
    // the fuzz corpus hit the sum-over-empty-relation NULL in the
    // convergence read (round 14)
    val (labels, rounds) = Dedup.connectedComponentsFor(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    assert(labels.collect().isEmpty)
    assert(rounds == 1)
  }

  test("blockPlan sub-splits a planted mega-cluster; candidates match cell-granularity exactly") {
    import spark.implicits._
    val dim = 64
    def unit(seed: Long): Array[Double] = {
      val v = Array.tabulate(dim)(d =>
        2.0 * graft.functions.Hashing.toUnitDouble(seed * 7919L + d) - 1.0)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // 60% of 500 vectors in ONE tight cluster (the boilerplate-heavy
    // corpus case), the rest spread over 10 loose clusters
    val mega = unit(1L)
    val spread = Array.tabulate(10)(c => unit(c + 50L))
    val pts = (0 until 500).map { i =>
      val c = if (i < 300) mega else spread(i % 10)
      val noise = unit(i + 9000L)
      val eps = if (i < 300) 0.02 else 0.05
      val v = c.zip(noise).map { case (x, e) => x + eps * e }
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq)
    }
    val raw = pts.toDF("vec_id", "embedding").withColumn("nrm", lit(1.0))
    val (assigned, pairs) = Dedup.blockPlan(spark, raw, 0.8)
    val asg = assigned.select("vec_id", "cluster", "sub").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // (a) no hot join key: largest (cluster, sub) block obeys the cap
    val cells = asg.map(_._2).distinct.length
    val cap = math.max(8L, math.ceil(2.0 * 500 / cells).toLong)
    val maxBlock = asg.groupBy(t => (t._2, t._3)).values.map(_.length).max
    info(s"$cells occupied cells, cap $cap, largest (cluster,sub) block $maxBlock")
    assert(maxBlock <= cap,
      s"largest block $maxBlock exceeds cap $cap — mega-cluster not split")
    // the mega cluster really was split into multiple sub-blocks
    val megaCell = asg.groupBy(_._2).maxBy(_._2.length)
    assert(megaCell._2.map(_._3).distinct.length > 1, "hot cell has a single sub-block")
    // (b) sub-splitting changes NOTHING: candidates == cell-granularity pairs
    val cellPairOk = pairs.select("cell_a", "cell_b").distinct().collect()
      .flatMap(r => Seq((r.getInt(0), r.getInt(1)), (r.getInt(1), r.getInt(0)))).toSet
    val cellOf = asg.map(t => t._1 -> t._2).toMap
    val cellLevel = (for {
      (i, _) <- pts; (j, _) <- pts
      if i < j && cellPairOk((cellOf(i), cellOf(j)))
    } yield (i, j)).toSet
    val withSplit = Dedup.embeddingCandidatesFor(spark, raw, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withSplit == cellLevel,
      s"sub-split candidates ${withSplit.size} != cell-level ${cellLevel.size}")
    // (c) end-to-end result still exact vs brute force
    val brute = (for {
      (i, ea) <- pts; (j, eb) <- pts
      if i < j
      d = ea.zip(eb).map { case (x, y) => x.toDouble * y }.sum
      if d >= 0.8
    } yield (i, j)).toSet
    val ded = Dedup.embeddingDedupFor(spark, pts.toDF("vec_id", "embedding"), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ded == brute, s"skewed corpus: blocked ${ded.size} vs brute ${brute.size}")
  }

  test("IVF recall@5 is monotone in nprobe and exact at nprobe = K") {
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(Similarity.knnBrute(spark, sfDir))
    val recalls = Seq(1, 2, 4, 8).map { np =>
      val ivf = topk(Similarity.knnIvf(spark, sfDir, numClusters = 8, nprobe = np))
      val hits = brute.keys.toSeq.map(q => (brute(q) & ivf.getOrElse(q, Set.empty)).size).sum
      np -> hits.toDouble / (brute.size * 5)
    }
    info("recall@5 curve: " +
      recalls.map { case (np, r) => f"nprobe=$np%d:$r%.3f" }.mkString(", "))
    recalls.sliding(2).foreach {
      case Seq((npLo, lo), (npHi, hi)) =>
        assert(hi >= lo - 1e-9, f"recall dropped $lo%.3f@$npLo -> $hi%.3f@$npHi")
      case _ =>
    }
    assert(recalls.last._2 == 1.0,
      s"nprobe = K probes every cell — must equal brute force, got ${recalls.last._2}")
  }

  test("dedup groups assign every member its component's min doc id") {
    val pairs = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // brute-force union-find over the same pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(id => id -> find(id)).toMap
    val got = Dedup.dedupGroups(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"components differ: ${got.size} vs ${expected.size} nodes")
    // canonical ids are fixpoints: every canonical maps to itself
    got.values.foreach(c => assert(got(c) == c, s"canonical $c not a fixpoint"))
  }

  test("PQ codes are deterministic, in range, and lossy-but-nontrivial") {
    val (e, codebook, assigned) = Similarity.pqParts(spark, sfDir, m = 4, ksub = 16, iters = 3)
    val codes = assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getDouble(3))).toMap
    val n = e.count()
    assert(codes.size == n * 4, s"expected ${n * 4} (vec, sub) codes, got ${codes.size}")
    assert(codes.values.forall { case (c, _) => c >= 0 && c < 16 }, "code out of range")
    // deterministic across invocations (memoized books + argmin ties by id)
    val again = Similarity.pqParts(spark, sfDir, m = 4, ksub = 16, iters = 3)._3
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getDouble(3))).toMap
    assert(again == codes)
    // lossy but non-trivial: reconstruction SSE strictly between 0 and
    // the zero-vector baseline (= total corpus energy)
    val sse = codes.values.map(_._2).sum
    val vecs = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](2).map(_.toDouble).toArray).toMap
    val energy = vecs.values.map(v => v.map(x => x * x).sum).sum
    assert(sse > 0.0 && sse < 0.9 * energy, s"sse=$sse energy=$energy")
    info(f"real-corpus sse/energy = ${sse / energy}%.3f")
    // NOTE: on THIS corpus (isotropic 64-d) ADC recall is chance —
    // quantization error (~0.8 of energy) swamps the tiny neighbor
    // gaps, the same phenomenon SURVEY §9 documents for cosine
    // banding. ADC quality is asserted below on data that HAS
    // neighbor structure.
  }

  test("SemDeDup keeps exactly one representative per planted duplicate set") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    // 10 duplicate sets of 5 near-identical vectors + 30 unique
    val dupSets = (0 until 10).map { s =>
      val base = Array.fill(dim)(rnd.nextGaussian())
      (0 until 5).map { i =>
        ((s * 5 + i).toLong, base.map(x => (x + 0.001 * rnd.nextGaussian()).toFloat).toSeq)
      }
    }
    val uniques = (50 until 80).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val raw = (dupSets.flatten ++ uniques).toDF("vec_id", "embedding")
      .withColumn("nrm", graft.functions.arrayNorm(org.apache.spark.sql.functions.col("embedding")))
    val got = Dedup.semanticDedupFor(spark, raw, threshold = 0.95).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.size == 80)
    // each planted set resolves to one group with exactly one keeper
    dupSets.foreach { set =>
      val ids = set.map(_._1)
      val groups = ids.map(id => got(id)._1).distinct
      assert(groups.size == 1, s"set ${ids.head / 5} split into $groups")
      assert(ids.count(id => got(id)._2) == 1, s"set ${ids.head / 5} keeper count != 1")
    }
    // uniques are their own group and kept
    uniques.foreach { case (id, _) =>
      assert(got(id) == ((id, true)), s"unique $id: ${got(id)}")
    }
  }

  test("SemDeDup on the real corpus is a consistent partition of the vectors") {
    val rows = Dedup.semanticDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val n = graft.sources.Tables.embeddings(spark, sfDir).count()
    assert(rows.length == n, "every vector gets a verdict")
    // exactly one keeper per group; canonical ids are group members
    rows.groupBy(_._2).foreach { case (g, members) =>
      assert(members.count(_._3) == 1, s"group $g has ${members.count(_._3)} keepers")
      assert(members.exists(_._1 == g), s"group id $g is not a member")
    }
  }

  test("IVF-PQ recall@5 is non-decreasing in nprobe and saturates at nprobe = kCoarse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // kCoarse (32) EXCEEDS the planted cluster count (20), so the
    // coarse quantizer splits clusters across cells and a query's
    // true neighbors straddle cell boundaries — nprobe genuinely
    // matters. (With kCoarse <= clusters the curve is flat from
    // nprobe = 1: every neighbor shares the query's cell.)
    val rnd = new scala.util.Random(11)
    val dim = 64
    val nClusters = 20
    val perCluster = 10
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val v = centers(c).map(x => (x + 0.3 * rnd.nextGaussian()).toFloat)
      ((c * perCluster + i).toLong, s"c$c", v.toSeq)
    }
    val e = rows.toDF("vec_id", "label", "embedding")
    val raw = e.withColumn("nrm", graft.functions.arrayNorm(col("embedding")))
    val vecs = rows.map(r => r._1 -> r._3.map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val brute = (0L until 10L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(id => (d2(vecs(q), vecs(id)), id)).take(5).toSet
    }.toMap
    def run(np: Int): Seq[(Long, Long)] =
      Similarity.knnIvfPqFor(spark, raw, kCoarse = 32, nprobe = np, k = 5, corpus = None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val curve = Seq(1, 2, 4, 8, 32).map { np =>
      val got = run(np).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rec = brute.keys.toSeq
        .map(q => (brute(q) & got.getOrElse(q, Set.empty)).size).sum
        .toDouble / (brute.size * 5)
      np -> rec
    }
    info("IVF-PQ recall@5 curve: " +
      curve.map { case (np, r) => f"nprobe=$np%d:$r%.3f" }.mkString(", "))
    curve.sliding(2).foreach {
      case Seq((npLo, lo), (npHi, hi)) =>
        assert(hi >= lo - 1e-9, f"recall dropped $lo%.3f@$npLo -> $hi%.3f@$npHi")
      case _ =>
    }
    // probing every cell must recover most true neighbors on
    // clustered data (chance is ~5/199)
    assert(curve.last._2 > 0.5, f"full-probe recall ${curve.last._2}%.3f too low")
    // nprobe = kCoarse probes EVERY cell: the ranking is the full
    // residual-ADC scan, and more probes cannot change the answer
    assert(run(32).sorted == run(100).sorted,
      "nprobe = kCoarse must equal the exhaustive probe")
  }

  test("vecQuantize handles an all-zero embedding (no NaN, no ANSI throw)") {
    import spark.implicits._
    val e = Seq(
      (1L, "z", Seq.fill(8)(0.0f)),
      (2L, "a", Seq(1.0f, -2.0f, 0.5f, 0.0f, 3.0f, -1.0f, 0.25f, 2.0f)))
      .toDF("vec_id", "label", "embedding")
    val rows = Similarity.vecQuantizeFor(e).collect()
    val zero = rows.find(_.getLong(0) == 1L).get
    assert(zero.getDouble(2) == 0.0 && zero.getLong(3) == 0L && zero.getDouble(4) == 0.0)
    val nz = rows.find(_.getLong(0) == 2L).get
    assert(nz.getLong(3) != 0L, "nonzero vector must quantize to nonzero codes")
  }

  test("ADC search over PQ codes recovers planted cluster neighbors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64
    val nClusters = 20
    val perCluster = 10
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
      val v = centers(c).map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
      ((c * perCluster + i).toLong, s"c$c", v.toSeq)
    }
    val e = rows.toDF("vec_id", "label", "embedding")
    val (_, codebook, assigned) =
      Similarity.pqPartsFor(spark, e, m = 4, ksub = 16, iters = 3)
    val codes = assigned.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val book = codebook.collect().map { r =>
      (r.getInt(3), r.getInt(0)) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    val vecs = rows.map(r => r._1 -> r._3.map(_.toDouble).toArray).toMap
    val sd = dim / 4
    val queries = (0 until nClusters).map(c => (c * perCluster).toLong)
    val recalls = queries.map { q =>
      val qv = vecs(q)
      def exactD(x: Array[Double]) =
        qv.zip(x).map { case (a, b) => (a - b) * (a - b) }.sum
      val lut = (0 until 4).map { mm =>
        (0 until 16).map { c =>
          val cent = book((mm, c))
          (0 until sd).map(i => { val d = qv(mm * sd + i) - cent(i); d * d }).sum
        }.toArray
      }
      def adcD(id: Long) = (0 until 4).map(mm => lut(mm)(codes((id, mm)))).sum
      val others = vecs.keys.filter(_ != q).toSeq
      val k = perCluster - 1 // the true neighbors: the cluster peers
      val exactTop = others.sortBy(id => (exactD(vecs(id)), id)).take(k).toSet
      val adcTop = others.sortBy(id => (adcD(id), id)).take(k).toSet
      (exactTop & adcTop).size.toDouble / k
    }
    val meanRecall = recalls.sum / recalls.size
    info(f"planted-cluster ADC mean recall@${perCluster - 1} = $meanRecall%.3f")
    // chance is ~9/199 ≈ 0.045; clustered data must recover most peers
    assert(meanRecall > 0.5, f"ADC recall $meanRecall%.3f too low on clustered data")

    // the DISTRIBUTED ADC operator must agree: queries are ids < 10
    // (cluster 0), whose true top-9 are the other cluster-0 members
    val (_, codebook2, assigned2) =
      Similarity.pqPartsFor(spark, e, m = 4, ksub = 16, iters = 3)
    val op = Similarity.knnPqFrom(e, codebook2, assigned2, m = 4, k = perCluster - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val cluster0 = (0 until perCluster).map(_.toLong).toSet
    (0 until perCluster).map(_.toLong).foreach { q =>
      val neigh = op(q).map(_._2).toSet
      assert(neigh == (cluster0 - q), s"query $q: got $neigh")
    }

    // IVF-PQ (residual codes, probed cells) recovers the same peers:
    // queries and their planted duplicates always share the coarse
    // cell, so even nprobe=1 must find every cluster-0 member
    val raw = e.withColumn("nrm", graft.functions.arrayNorm(
      org.apache.spark.sql.functions.col("embedding")))
    val ivfpq = Similarity.knnIvfPqFor(spark, raw,
      kCoarse = 8, nprobe = 1, k = perCluster - 1, corpus = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    (0 until perCluster).map(_.toLong).foreach { q =>
      val neigh = ivfpq(q).map(_._2).toSet
      assert(neigh == (cluster0 - q), s"ivf-pq query $q: got $neigh")
    }
  }
}

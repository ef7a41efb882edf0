package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite {
  import TestSession._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("minhash candidates recover the exact jaccard pairs at tau=0.8") {
    val exact = Dedup.ngramJaccardPairs(docs, tau = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(docs, tau = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact), "minhash emitted a pair below tau (verify failed)")
    // 128 hashes / 16 bands at J>=0.8 -> detection prob ~1; demand full recall here
    assert(mh == exact, s"minhash missed ${exact.diff(mh)}")
  }

  test("minhash oracle equivalence is verified at every gate SF (drift-attributable)") {
    // The q_dedup_minhash/q_dedup_clusters oracles equate banded-LSH
    // output with the exact tau=0.8 pair set. Given a FIXED corpus the
    // equivalence is deterministic (the hash seeds are constants), but
    // it is not guaranteed by construction: a pair with J in
    // [0.8, 0.9) can miss all 16 bands — prob (1-J^8)^16, up to ~6%
    // near the threshold, per corpus DRAW (sf0.001 currently has such
    // a pair at J=0.8889, recovered by these seeds; at J>=0.9 the miss
    // prob is ~5e-14). So verify band recall EXPLICITLY at both SFs
    // the gate runs, and on failure name the gap pairs: if a
    // regenerated corpus lands a pair the fixed bands miss, this test
    // attributes the oracle mismatch to testdata drift, not code.
    // the raw-text pass covers the q_dedup_minhash/q_dedup_clusters
    // oracles; the markup-stripped pass covers q_curate's near-dup
    // stage (pair recovery is a per-pair property — two docs' band
    // agreement doesn't depend on the rest of the corpus — so recall
    // over the full cleaned corpus covers every filtered SUBSET the
    // curation pipeline hands the near-dup stage)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
           if new java.io.File(dir).isDirectory;
         (form, prep) <- Seq[(String, DataFrame => DataFrame)](
           "raw" -> identity,
           "markup-stripped" -> (d => d.withColumn("text",
             TextAnalysis.cleanMarkup(col("text")))))) {
      val d = prep(Tables.documents(spark, dir))
      val exact = Dedup.ngramJaccardPairs(d, tau = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val mh = Dedup.minhashPairs(d, tau = 0.8)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.operators.Caches.releaseAll()
      val missed = exact.filterNot(p => mh.contains((p._1, p._2)))
      assert(missed.isEmpty,
        s"$dir ($form): banded LSH misses exact pairs ${missed.mkString(", ")} " +
          "(pairs in the [0.8, 0.9) recall gap can all-band-miss under " +
          "testdata regeneration — the q_dedup_minhash/q_dedup_clusters/" +
          "q_curate oracles' LSH==exact equivalence broke via corpus " +
          "drift, not code; re-seed or re-band, or re-derive the oracle)")
    }
  }

  test("prefix-filtered jaccard pairs equal the exact operator") {
    // the prefix bound guarantees zero false negatives at the given
    // tau, and verification is exact — outputs must be IDENTICAL.
    // 0.07 is the FP-knife-edge class: τ·n rounds UP in double
    // arithmetic when τ·n is mathematically integral (0.07·100 =
    // 7.000000000000001), which without the epsilon guard would
    // shorten the prefix by one and drop pairs sitting exactly at τ
    for (tau <- Seq(0.07, 0.5, 0.8)) {
      val exact = Dedup.ngramJaccardPairs(docs, tau = tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.ngramJaccardPairsPrefix(docs, tau = tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == exact,
        s"tau=$tau: missing=${exact.diff(pref)} extra=${pref.diff(exact)}")
    }
    graft.operators.Caches.releaseAll()
  }

  test("prefix jaccard equals the exact operator on seeded random corpora and taus") {
    // Randomized adversarial regression for the PER-ROW positional
    // filter's soundness proof (a qualifying pair's smallest shared
    // element always survives the in-join prune): tiny vocab forces
    // heavy cross-doc shingle sharing, duplicate docs force J=1.0
    // pairs, short docs hit degenerate prefix lengths, and taus sweep
    // the knife edges (tiny, integral-τ·n-prone, 1.0). A dropped pair
    // here means the prune is UNSOUND, not slow — this is the test
    // that must fail first.
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (round <- 0 until 3) {
      val base = Seq.fill(12)(
        Seq.fill(3 + rng.nextInt(20))(vocab(rng.nextInt(vocab.size))).mkString(" "))
      // append exact dups + one-token edits of earlier docs
      val texts = (base ++ base.take(3) ++
        base.take(3).map(t => t + " " + vocab(rng.nextInt(vocab.size))))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = texts.toDF("doc_id", "text")
      for (tau <- Seq(0.11, 0.5, 1.0)) {
        val exact = Dedup.ngramJaccardPairs(df, tau = tau).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val pref = Dedup.ngramJaccardPairsPrefix(df, tau = tau).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(pref == exact,
          s"round=$round tau=$tau: missing=${exact.diff(pref)} extra=${pref.diff(exact)}")
      }
      graft.operators.Caches.releaseAll()
    }
  }

  test("simhash pairs are near-dups under exact hamming") {
    val out = Dedup.simhashPairs(docs).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Int]("hamming") <= 6))
  }

  test("hashEmbedDocs: unit vectors whose cosine tracks token-multiset similarity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val body = (1 to 40).map(i => s"alpha$i beta$i").mkString(" ")
    val crafted = Seq(
      (1L, body),                                   // original
      (2L, body + " tail"),                         // near-dup: one token added
      (3L, (1 to 40).map(i => s"gamma$i delta$i").mkString(" ")), // disjoint
      (4L, ""))                                     // empty -> zero vector
      .toDF("doc_id", "text")
    val e = Similarity.hashEmbedDocs(crafted, dim = 64)
    val vecs = e.collect().map(r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    assert(vecs.values.forall(_.length == 64))
    def cos(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    // L2-normalized (or zero for the empty doc)
    Seq(1L, 2L, 3L).foreach { id =>
      assert(math.abs(cos(vecs(id), vecs(id)) - 1.0) < 1e-6, s"doc $id not unit")
    }
    assert(vecs(4L).forall(_ == 0f), "empty doc must embed to the zero vector")
    // cosine ordering: near-dup >> disjoint
    val near = cos(vecs(1L), vecs(2L))
    val far = cos(vecs(1L), vecs(3L))
    assert(near > 0.9, s"near-dup cosine $near too low")
    assert(far < 0.5, s"disjoint-vocabulary cosine $far too high")

    // end-to-end: the embedding feeds the exact similarity operator
    // directly and recovers exactly the planted near-dup pair
    val pairs = Similarity.embedDedup(e, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected the planted pair: $pairs")
  }

  test("clusterEmbed assigns every vector to its argmax centroid") {
    val k = 8
    val assigned = Similarity.clusterEmbed(emb, k = k).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cid"),
        r.getAs[Double]("ccos")))
    val n = emb.count()
    assert(assigned.length == n, "every vector gets exactly one cluster")
    assert(assigned.map(_._1).distinct.length == n)
    assert(assigned.forall { case (_, cid, c) =>
      cid >= 0 && cid < k && c >= -1.0 && c <= 1.0 + 1e-9 })
    assert(assigned.map(_._2).distinct.length > 1,
      "a one-cluster outcome on this corpus means training collapsed")

    // re-train the quantizer with the same seed (deterministic by
    // contract) and verify the ASSIGNMENT SEMANTICS independently:
    // each vector's cid is the argmax-dot centroid, ties to lowest cid
    val cents = Similarity.trainQuantizer(
      Similarity.withNorm(emb), k, iters = 3, seed = 42L)
    val vecs = emb.collect().map { r =>
      r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Float]]("embedding").toArray
    }.toMap
    assigned.foreach { case (id, cid, _) =>
      val v = vecs(id)
      val nrm = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      val dots = cents.map(c =>
        v.zip(c).map { case (a, b) => a.toDouble * b.toDouble }.sum)
      val best = dots.zipWithIndex.maxBy { case (d, i) => (d, -i) }._2
      assert(cid == best, s"vec $id: assigned $cid, argmax is $best")
      val _ = nrm // cosine order == dot order for a fixed vector
    }

    // the datasheet rollup reconciles with the assignment
    val stats = Similarity.clusterStats(
        Similarity.clusterEmbed(emb, k = k)).collect()
      .map(r => r.getAs[Int]("cid") -> r.getAs[Long]("n_vectors")).toMap
    assert(stats.values.sum == n)
    val byCid = assigned.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(stats == byCid)
    graft.operators.Caches.releaseAll()
  }

  test("shared trainedQuantizer centroids reproduce the self-trained outputs exactly") {
    // the train-once sharing contract: passing trainedQuantizer's
    // centroid array to clusterEmbed/mixByCluster must be bit-identical
    // to letting each self-train (same seed, same sample, same Lloyd's
    // loop) — so a pipeline can train once and fan the array out to
    // assignment, mixing, and the stats datasheet without retraining
    val cents = Similarity.trainedQuantizer(emb, k = 8)
    val ceShared = Similarity.clusterEmbed(emb, k = 8, centroids = Some(cents)).collect()
    val ceSelf = Similarity.clusterEmbed(emb, k = 8).collect()
    assert(ceShared.sameElements(ceSelf),
      "clusterEmbed with shared centroids diverged from self-trained")
    val mcShared = Similarity.mixByCluster(emb, quota = 5, k = 8,
      centroids = Some(cents)).collect()
    val mcSelf = Similarity.mixByCluster(emb, quota = 5, k = 8).collect()
    assert(mcShared.sameElements(mcSelf),
      "mixByCluster with shared centroids diverged from self-trained")
    val ivShared = Similarity.annIvf(emb, nList = 8,
      centroids = Some(cents)).collect()
    val ivSelf = Similarity.annIvf(emb, nList = 8).collect()
    assert(ivShared.sameElements(ivSelf),
      "annIvf with shared centroids diverged from self-trained")
    graft.operators.Caches.releaseAll()
  }

  test("embedDedup pairs are symmetric-free and above threshold") {
    val out = Similarity.embedDedup(emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cos") >= 0.4)
    }
  }

  test("semDedup survivors = everything minus lower-id-neighbor drops, cluster-restricted") {
    val out = Similarity.semDedup(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    // independent recomputation from two already-pinned operators:
    // clusterEmbed's assignment + embedDedup's exact global pair set,
    // restricted to same-cluster pairs — the drop set is exactly the
    // higher-id member of each surviving pair
    val cid = Similarity.clusterEmbed(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    val drops = Similarity.embedDedup(emb).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
      .filter { case (a, b) => cid(a) == cid(b) }
      .map(_._2).toSet
    assert(drops.nonEmpty, "test corpus must exercise the drop arm")
    val expect = cid.filterNot { case (id, _) => drops(id) }
    assert(out == expect,
      s"extra=${out.keySet -- expect.keySet} missing=${expect.keySet -- out.keySet}")
  }

  test("semDedup: keep-min rule, zero-norm survival, shared-quantizer reuse") {
    val sp = spark
    import sp.implicits._
    // two identical vectors (same cluster by construction) + one
    // orthogonal + one zero-norm: the higher-id duplicate drops, the
    // zero vector can never pair (undefined cosine) and survives
    val v = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val z = Array(0.0f, 0.0f, 0.0f, 0.0f)
    val tiny = Seq((1L, v), (2L, v), (3L, w), (4L, z))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(tiny, tau = 0.9, k = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out == Set(1L, 3L, 4L), s"keep-min/zero-norm contract: $out")
    // passing a pre-trained quantizer is bit-identical to self-training
    val cents = Similarity.trainedQuantizer(emb)
    val a = Similarity.semDedup(emb).collect().toSeq
    val b = Similarity.semDedup(emb, centroids = Some(cents)).collect().toSeq
    assert(a == b, "shared-quantizer path must be bit-identical")
  }

  test("semDedupClusterStats bounds the candidate-pair volume") {
    val (k, mx, pairs) = Similarity.semDedupClusterStats(emb)
    val n = emb.count()
    assert(k >= 1 && mx >= 1 && mx <= n)
    // the whole point: cluster restriction keeps the scored pair space
    // far below all-pairs n(n-1)/2
    assert(pairs < n * (n - 1) / 2,
      s"cluster restriction must shrink the pair space: $pairs vs all-pairs")
    assert(pairs >= mx * (mx - 1) / 2, "max cluster's own pairs are included")
  }

  test("annTopK returns k ranked candidates per query") {
    val out = Similarity.annTopK(emb, nQueries = 5, k = 5).collect()
    assert(out.length == 25)
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    byQuery.values.foreach { rows =>
      val cs = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(cs.sameElements(cs.sorted.reverse), "cosine not descending by rank")
    }
  }

  test("annLsh achieves nontrivial recall vs brute force") {
    val brute = Similarity.annTopK(emb, nQueries = 20, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val lsh = Similarity.annLsh(emb, nQueries = 20, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(lsh.nonEmpty)
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    // a broken bucket join collapses recall to near zero; the default
    // 6-plane x 4-table multi-probe config empirically sits well above
    // 0.5 on this corpus (mirrors the 0.35/0.4 bars of
    // embedDedupLsh/annIvf)
    assert(recall > 0.5, s"recall $recall below the 6x4-config floor")
  }

  test("annPq: valid codes, deterministic, nontrivial recall vs brute force") {
    val cb = Similarity.trainPqCodebooks(emb)
    assert(cb.length == 16 && cb.forall(_.length <= 32) &&
      cb.forall(_.forall(_.length == 4)), "codebook shape m=16, kCodes<=32, dsub=4")
    // codes are in range and there is one per subspace
    val codes = emb.select(graft.functions.GraftFunctions.pqEncode(
        col("embedding"), cb).as("c"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(codes.forall(c => c.length == 16 && c.forall(x => x >= 0 && x < 32)))
    // deterministic end-to-end (trained-literal oracle depends on it)
    val a = Similarity.annPq(emb).collect().toSeq
    val b = Similarity.annPq(emb).collect().toSeq
    assert(a == b, "annPq must be bit-deterministic")
    // quantized top-k overlaps the EXACT L2 top-k well above chance —
    // the PQ approximation contract. The reference is exact L2, not
    // annTopK's cosine: PQ approximates squared-L2, and these test
    // embeddings are not unit-norm, so the two metrics legitimately
    // rank differently (chance recall at k=5 of ~2000 is ~0.25%)
    val all = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def l2(x: Array[Float], y: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < math.min(x.length, y.length)) {
        val d = x(i).toDouble - y(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    val brute = (for {
      (qid, qv) <- all.filter(_._1 < 20)
      (cid, _) <- all.filter(t => t._1 != qid)
        .map(t => (t._1, l2(qv, t._2))).sortBy(t => (t._2, t._1)).take(5)
    } yield (qid, cid)).toSet
    val pq = a.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    // measured 0.43 at the default 16x32 config on this corpus
    // (vs 0.20 at 8x16 — more subspaces beat more codes here); the
    // bar sits under it with the usual margin
    assert(recall > 0.3, s"PQ recall $recall vs exact L2 below the 16x32-config floor")
    // approximate distances are non-decreasing by rank
    a.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val ds = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adist"))
      assert(ds.sameElements(ds.sorted), "adist not ascending by rank")
    }
  }

  test("embedDedupLsh finds a sound subset of the exact pairs") {
    val exact = Similarity.embedDedup(emb).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val lsh = Similarity.embedDedupLsh(emb).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh.diff(exact).take(5)}")
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    // measured 0.485 at the default 6-plane x 8-table config (the
    // misses are near-threshold cos~0.4 pairs, expected for RHP-LSH);
    // 0.35 leaves margin while still catching a broken bucket join
    assert(recall > 0.35, s"recall $recall below the 6x8-config floor")
  }

  test("annIvf achieves nontrivial recall vs brute force") {
    val brute = Similarity.annTopK(emb, nQueries = 20, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.annIvf(emb, nQueries = 20, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(ivf.nonEmpty)
    // every emitted pair is a true vector pair with exact cosine rank
    // within its probed lists; recall vs global brute force must be
    // well above the nProbe/nList=25% random-lists floor
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    // measured 0.52 at nProbe=4/nList=16; 0.4 keeps margin while
    // sitting well above the 25% random-lists floor
    assert(recall > 0.4, s"recall $recall below the nProbe=4 floor")
  }

  test("annIvf is deterministic across runs") {
    val a = Similarity.annIvf(emb, nQueries = 5, k = 3).collect().toSeq
    val b = Similarity.annIvf(emb, nQueries = 5, k = 3).collect().toSeq
    assert(a == b)
  }

  test("annIvfPq: valid index entries, deterministic, re-ranked recall beats plain PQ") {
    val cents = Similarity.trainedQuantizer(emb)
    val cb = Similarity.trainIvfPqCodebooks(emb, cents)
    assert(cb.length == 16 && cb.forall(_.length <= 32) &&
      cb.forall(_.forall(_.length == 4)), "residual codebook shape m=16, kCodes<=32, dsub=4")
    // index entries: [cid, codes...] — cid in the list range, one
    // in-range code per subspace
    val entries = emb.select(graft.functions.GraftFunctions.ivfPqEncode(
        col("embedding"), cents, cb).as("cc"))
      .collect().map(_.getSeq[Int](0).toSeq)
    assert(entries.forall(e => e.length == 17 &&
      e.head >= 0 && e.head < cents.length &&
      e.tail.forall(x => x >= 0 && x < 32)))
    // deterministic end-to-end (trained-literal oracle depends on it)
    val a = Similarity.annIvfPq(emb).collect().toSeq
    val b = Similarity.annIvfPq(emb).collect().toSeq
    assert(a == b, "annIvfPq must be bit-deterministic")
    // the round's design claim, pinned: residual encoding + the exact
    // re-rank recover MORE of the cosine brute-force top-k than plain
    // PQ's raw-vector ADC ranking does (measured 0.58 vs 0.43 at
    // sf0.001, 0.67 vs 0.45 at sf0.01; pure residual-ADC without the
    // re-rank read 0.26 — the refine stage is what buys the recall)
    val brute = Similarity.annTopK(emb, nQueries = 20, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ivfpq = a.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val pq = Similarity.annPq(emb).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recIvfPq = brute.intersect(ivfpq).size.toDouble / brute.size
    val recPq = brute.intersect(pq).size.toDouble / brute.size
    assert(recIvfPq > recPq,
      s"IVF-PQ recall $recIvfPq does not beat plain PQ's $recPq")
    assert(recIvfPq > 0.5, s"IVF-PQ recall $recIvfPq below the refine-stage floor")
    // exact re-ranked cosines are non-increasing by rank
    a.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val cs = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos"))
      assert(cs.sameElements(cs.sorted.reverse), "cosine not descending by rank")
    }
  }

  test("PQ codebook training at a non-default size follows the kCodes*256 sample rule") {
    // the sample-sizing contract (r19 scaladoc): the sample scales
    // with kCodes automatically; a non-default (m=8, kCodes=8)
    // training stays deterministic and shape-correct
    val cb1 = Similarity.trainPqCodebooks(emb, m = 8, kCodes = 8)
    val cb2 = Similarity.trainPqCodebooks(emb, m = 8, kCodes = 8)
    assert(cb1.length == 8 && cb1.forall(_.length <= 8) &&
      cb1.forall(_.forall(_.length == 8)), "codebook shape m=8, kCodes<=8, dsub=8")
    assert(cb1.zip(cb2).forall { case (x, y) =>
      x.zip(y).forall { case (u, v) => u.sameElements(v) } },
      "non-default-size training must be bit-deterministic")
  }

  test("nearDupClusters equals a local union-find on random pair graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // random sparse graph incl. chains (worst case for propagation depth)
    val edges = (Seq.tabulate(12)(i => (i.toLong, (i + 1).toLong)) ++ // one 13-node chain
      Seq.fill(60)((rng.nextInt(200) + 100L, rng.nextInt(200) + 100L)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val out = Dedup.nearDupClusters(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local union-find reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    // same membership: component-min label for every vertex
    val refLabel = ids.map(v => v -> ids.filter(u => find(u) == find(v)).min).toMap
    assert(out.keySet == ids.toSet)
    ids.foreach(v => assert(out(v) == refLabel(v), s"vertex $v"))
    graft.operators.Caches.releaseAll()
  }

  test("nearDupClusters refuses to return a non-converged labeling (distributed path)") {
    import spark.implicits._
    val chain = Seq.tabulate(6)(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      // driverMaxPairs = 0 forces the distributed propagation path,
      // whose convergence-refusal contract this test pins
      Dedup.nearDupClusters(chain, maxIters = 2, driverMaxPairs = 0).count()
    }
    assert(ex.getMessage.contains("converge"))
  }

  test("driver union-find and distributed propagation agree") {
    import spark.implicits._
    // two blobs + a chain + an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),      // triangle
      (10L, 11L), (11L, 12L),            // path
      (20L, 21L)).toDF("doc_a", "doc_b")
    val viaDriver = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSpark = Dedup.nearDupClusters(pairs, driverMaxPairs = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaSpark)
    assert(viaDriver == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // a bound past Int.MaxValue can't be limit()-probed — it must fall
    // back to the count-guarded driver path, not throw
    val viaHugeBound = Dedup.nearDupClusters(pairs, driverMaxPairs = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaHugeBound == viaDriver)
    graft.operators.Caches.releaseAll()
  }

  test("minhash pairs resolve into consistent clusters") {
    val pairs = Dedup.minhashPairs(docs)
    val clusters = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.nonEmpty)
    pairRows.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // the cluster id is a member of its own cluster (the minimum doc)
    clusters.values.foreach(cid => assert(clusters(cid) == cid))
    graft.operators.Caches.releaseAll()
  }

  test("decontaminate flags benchmark overlap and covers every corpus doc") {
    import spark.implicits._
    val benchmark = Seq(
      (100L, "the capital of france is paris and the capital of spain is madrid"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "quiz answer the capital of france is paris everyone knows"), // leaked
      (2L, "an entirely unrelated training document about cooking pasta"),
      (3L, "ab cd")) // too short for shingles — must still appear
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, benchmark, minShared = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 3, "every corpus doc must appear")
    assert(out(1L).getAs[Long]("contaminated") == 1 && out(1L).getAs[Long]("n_shared") >= 3)
    assert(out(2L).getAs[Long]("contaminated") == 0)
    assert(out(3L).getAs[Long]("n_shared") == 0 && out(3L).getAs[Long]("contaminated") == 0)
    graft.operators.Caches.releaseAll()
  }

  test("decontaminate: duplicate doc_id rows break the one-row-per-doc precondition") {
    // the per-doc count is count(1) over each ROW's distinct shingles
    // (no per-doc distinct): two rows of doc 1, each sharing the same
    // 2 benchmark shingles, count 4 — over minShared, though neither
    // row alone is — and the doc appears once per row
    import spark.implicits._
    val benchmark = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "quiz the capital of france"),
      (1L, "the capital of france today"),
      (2L, "the capital of france"))
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, benchmark, minShared = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shared"),
        r.getAs[Long]("contaminated"))).toSeq.sorted
    assert(out == Seq((1L, 4L, 1L), (1L, 4L, 1L), (2L, 2L, 0L)), s"$out")
    graft.operators.Caches.releaseAll()
  }

  test("decontaminateKeepExpr agrees with batch decontaminate on the corpus") {
    // the streaming gate's scan-local predicate (driver-collected
    // shingle set, codegen'd countInLongSet) must draw the SAME line
    // as the batch join/agg operator — corpus-wide, both verdicts
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    // a benchmark that actually overlaps part of the corpus: two real
    // document texts plus a disjoint item
    val bench = corpus.filter(col("doc_id").isin(3L, 7L)).select("doc_id", "text")
      .union(Seq((999L, "totally disjoint benchmark item text"))
        .toDF("doc_id", "text"))
    val batchFlags = Dedup.decontaminate(corpus, bench, minShared = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("contaminated") == 1L)).toMap
    val shingles = Dedup.benchmarkShingles(bench)
    val gateKept = corpus
      .filter(Dedup.decontaminateKeepExpr(shingles, minShared = 3))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(batchFlags.exists(_._2), "benchmark must contaminate something")
    batchFlags.foreach { case (id, contaminated) =>
      assert(gateKept.contains(id) == !contaminated,
        s"doc $id: gate/batch verdict drift (batch contaminated=$contaminated)")
    }
    graft.operators.Caches.releaseAll()
  }

  test("decontaminateFuzzy: per-item containment with deterministic best-match") {
    import spark.implicits._
    // item 100 has shingles from an 8-token sentence (6 shingles);
    // item 101 is disjoint. doc 1 contains item 100 verbatim inside
    // extra prose -> containment 1.0 of the BEST item even though the
    // benchmark as a whole is much larger.
    val benchmark = Seq(
      (100L, "the capital of france is paris quiz answer"),
      (101L, "cooking pasta requires salted boiling water tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words the capital of france is paris quiz answer suffix words"),
      (2L, "the capital of france is lyon says nobody serious here"), // partial
      (3L, "completely unrelated text about gardening and sunshine today"),
      (4L, "ab")) // shingle-free — must still appear with zeros
      .toDF("doc_id", "text")
    val out = Dedup.decontaminateFuzzy(corpus, benchmark).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("best_bench"), r.getAs[Double]("containment"),
         r.getAs[Long]("contaminated")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == ((100L, 1.0, 1L)), s"verbatim inclusion: ${out(1L)}")
    // doc 2 shares {the capital of, capital of france, of france is}
    // -> 3 of item 100's 6 shingles = 0.5, under tau
    assert(out(2L) == ((100L, 0.5, 0L)), s"partial overlap: ${out(2L)}")
    assert(out(3L) == ((-1L, 0.0, 0L)))
    assert(out(4L) == ((-1L, 0.0, 0L)))
    graft.operators.Caches.releaseAll()
  }

  test("sourceOverlap: distinct-shingle sharing per source pair, zero-overlap pairs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "A", "one two three four"),        // A: {1-2-3, 2-3-4}
      (2L, "A", "two three four five"),       // A adds {3-4-5} -> n_a = 3
      (3L, "B", "one two three four five"),   // B: same 3 shingles
      (4L, "C", "alpha beta gamma delta"))    // C: disjoint
      .toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    assert(out.length == 1, s"only the A-B cell overlaps: ${out.toSeq}")
    assert(out.head == ((("A", "B"), (3L, 3L, 3L, 1.0))), s"A-B cell: ${out.head}")
    graft.operators.Caches.releaseAll()
  }

  test("sourceOverlap: driver-fold arm is bit-identical to the distributed arm") {
    // r21: for k ≤ driverFoldMaxK the ≤2^k-row mask rollup collects
    // and the totals/pair aggregation finishes in a driver loop. Pin
    // both arms equal on real multi-source data — the loop's long
    // arithmetic AND the rnd6 replication of Spark's round(x+1e-9, 6)
    // (scala BigDecimal.decimal semantics, HALF_UP) must reproduce
    // every column bit-for-bit, containment included.
    val docs = Tables.documents(spark, sfDir)
    val folded = Dedup.sourceOverlap(docs).collect().toSeq
    val distributed =
      Dedup.sourceOverlap(docs, driverFoldMaxK = -1).collect().toSeq
    assert(folded.nonEmpty, "expected overlapping source pairs at sf0.001")
    assert(folded == distributed)
    graft.operators.Caches.releaseAll()
  }

  test("sourceOverlap: labels order by code point (UTF-8 bytes), both arms") {
    // U+FF21 sorts BELOW the supplementary U+1D400 by code point (the
    // order the DuckDB oracle's `a.source < b.source` uses) but ABOVE
    // it in java.lang.String's UTF-16 unit order
    import spark.implicits._
    val bmp = "\uFF21"
    val supp = new String(Character.toChars(0x1D400))
    assert(supp.compareTo(bmp) < 0, "labels must disagree under UTF-16 order")
    val docs = Seq(
      (1L, "a", "one two three four"),
      (2L, bmp, "one two three four"),
      (3L, supp, "one two three four"))
      .toDF("doc_id", "source", "text")
    val folded = Dedup.sourceOverlap(docs).collect().toSeq
    val distributed =
      Dedup.sourceOverlap(docs, driverFoldMaxK = -1).collect().toSeq
    assert(folded.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("a", bmp), ("a", supp), (bmp, supp)))
    assert(folded == distributed)
    graft.operators.Caches.releaseAll()
  }

  test("semanticDecontaminate: argmax cosine with rounded-tie determinism and zero-norm guard") {
    import spark.implicits._
    val benchmark = Seq(
      (100L, Array(1f, 0f)),
      (120L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2f, 0f)),     // cos 1.0 with 100 -> contaminated
      (2L, Array(1f, 1f)),     // 0.707107 with BOTH -> tie to 100, contaminated
      (3L, Array(-1f, 0.1f)),  // best is 120 at ~0.0995 -> clean
      (4L, Array(0f, 0f)))     // zero norm -> (-1, 0.0, 0)
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.semanticDecontaminate(corpus, benchmark)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Long]("best_bench"), r.getAs[Double]("cosine"),
         r.getAs[Long]("contaminated")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == ((100L, 1.0, 1L)), s"exact match: ${out(1L)}")
    assert(out(2L) == ((100L, 0.707107, 1L)), s"tie to lowest id: ${out(2L)}")
    assert(out(3L)._1 == 120L && out(3L)._3 == 0L, s"clean doc: ${out(3L)}")
    assert(out(4L) == ((-1L, 0.0, 0L)), s"zero-norm: ${out(4L)}")
  }

  test("decontaminate broadcast guard: oversized benchmark falls back to a shuffled join") {
    import spark.implicits._
    val benchmark = Seq(
      (100L, "the capital of france is paris and the capital of spain is madrid"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "quiz answer the capital of france is paris everyone knows"),
      (2L, "an entirely unrelated training document about cooking pasta"))
      .toDF("doc_id", "text")
    // pin the statistics-based paths off so the two plans differ ONLY
    // by the operator's own guard decision
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def planOf(maxShingles: Long): String =
        Dedup.decontaminate(corpus, benchmark, maxBroadcastShingles = maxShingles)
          .queryExecution.executedPlan.toString
      // under the bound: the hint forces the broadcast
      assert(planOf(Long.MaxValue).contains("BroadcastHashJoin"),
        "in-bound benchmark set must broadcast")
      // past the bound: no forced broadcast anywhere in the plan — the
      // shingle match degrades to a shuffled join instead of OOMing
      val big = planOf(0L)
      assert(!big.contains("BroadcastHashJoin"),
        s"guard must drop the broadcast hint past the bound:\n$big")
      // both paths agree on the answer
      val viaBroadcast = Dedup.decontaminate(corpus, benchmark)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val viaShuffle = Dedup.decontaminate(corpus, benchmark, maxBroadcastShingles = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaBroadcast == viaShuffle)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      graft.operators.Caches.releaseAll()
    }
  }

  test("shingles produce n-grams of the right shape") {
    val sh = Dedup.shingles(docs, 3).select(explode(col("sh")).as("s"))
      .select(size(split(col("s"), " ")).as("n")).distinct().collect()
    assert(sh.map(_.getInt(0)).toSet == Set(3))
  }

  test("embedding dim stays within the RHP oracle's embedded plane length") {
    // The q_ann_lsh / q_dedup_embed_lsh oracles carry the hyperplane
    // sign matrices as 128-entry SQL literals; the SQL indexes only
    // len(v) positions, so any dim <= 128 compares exactly. A
    // regenerated embeddings table past 128 dims would make the DuckDB
    // side silently project onto a 128-dim prefix — this pin turns
    // that testdata drift into a named failure instead of an
    // unexplained oracle mismatch.
    // every SF the gates run (the sf0.1 gate failed-by-drift scenario
    // is the one this pin exists for — do not omit the large SF)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory).foreach { dir =>
      val dim = Tables.embeddings(spark, dir)
        .select(size(col("embedding")).as("d")).agg(max(col("d"))).collect()(0).getInt(0)
      assert(dim <= 128,
        s"$dir embeddings dim $dim exceeds the 128-entry plane literals in " +
          "SparkEntry.rhpPlanesSql — raise the emitted dim to restore the " +
          "LSH oracle's exactness")
    }
  }

  test("zero-norm vectors: no pairs, rank last in top-k, cid 0 at ccos 0, sampled once") {
    import spark.implicits._
    // the scenario every cosine oracle's CASE WHEN guard protects:
    // hashEmbedDocs emits a zero vector for an empty document
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), (3L, Array(-1.0f, 0.2f)))
      .toDF("vec_id", "embedding")
    // pair dedup: cosine is undefined against a zero vector — vec 2
    // must appear in NO pair even at a threshold that admits all
    // defined cosines
    val pairs = Similarity.embedDedup(e, tau = -1.0).collect()
    assert(pairs.nonEmpty)
    assert(!pairs.exists(r => r.getLong(0) == 2L || r.getLong(1) == 2L),
      "a zero-norm vector formed a pair")
    // top-k: the null cosine sorts LAST, never first (the NaN-vs-null
    // cross-engine flip the oracles guard against)
    val topk = Similarity.annTopK(e, nQueries = 1, k = 3).collect()
    assert(topk.length == 3)
    assert(topk.last.getAs[Long]("cand_id") == 2L &&
      topk.last.isNullAt(topk.last.fieldIndex("cos")),
      "zero-norm candidate must rank last with a null cosine")
    // clustering: tie rule puts it in cid 0 with confidence 0.0
    val ce = Similarity.clusterEmbed(e, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(ce(2L)._2 == 0.0, s"zero-norm confidence: ${ce(2L)}")
    // sampling: still a corpus member — kept exactly once
    val mc = Similarity.mixByCluster(e, quota = 10, k = 2)
      .collect().map(_.getLong(0))
    assert(mc.count(_ == 2L) == 1, "zero-norm vector must be sampled once")
    graft.operators.Caches.releaseAll()
  }

  test("mixByCluster: quotas hold, assignment agrees with clusterEmbed, prefilter is exact") {
    val quota = 5
    val rows = Similarity.mixByCluster(emb, quota = quota).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // per-cluster quota and contiguous 1..n ranks
    rows.groupBy(_._2).foreach { case (cid, g) =>
      assert(g.length <= quota, s"cluster $cid exceeds quota: ${g.length}")
      assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq,
        s"cluster $cid ranks are not contiguous")
    }
    // sampled members carry the SAME cid clusterEmbed assigns
    val cids = Similarity.clusterEmbed(emb).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (v, cid, _) => assert(cids(v) == cid,
      s"vec $v sampled under cid $cid but assigned ${cids(v)}") }
    // the salt-bound prefilter is EXACT: selected ids per cluster are
    // precisely the quota smallest by (Knuth salt, vec_id) among ALL
    // of that cluster's members
    def salt(v: Long): Long =
      (((v % 2147483648L) + 2147483648L) % 2147483648L * 2654435761L) % 4294967296L
    cids.toSeq.groupBy(_._2).foreach { case (cid, members) =>
      val expect = members.map(_._1).sortBy(v => (salt(v), v)).take(quota)
      val got = rows.filter(_._2 == cid).sortBy(_._3).map(_._1).toSeq
      assert(got == expect, s"cluster $cid sample drifted from the salt order")
    }
    graft.operators.Caches.releaseAll()
  }
}

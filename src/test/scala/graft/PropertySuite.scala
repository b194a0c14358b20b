package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Relational-algebra invariants over arbitrary generated frames
  * (SURVEY.md §5 layer 2). Plain ScalaCheck Gen sampling (scalatestplus
  * bridge isn't in the offline dependency set); seeds are fixed so runs
  * are reproducible. Sizes kept small — each check runs Spark jobs.
  */
class PropertySuite extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val rowsGen = Gen.listOf(Gen.zip(Gen.choose(0, 10), Gen.choose(-100, 100)))

  private def samples(n: Int): Seq[List[(Int, Int)]] =
    (0 until n).flatMap(i => rowsGen(Gen.Parameters.default.withSize(30), Seed(i.toLong)))

  test("every text_*/corpus_* op survives an adversarial corpus (empty/1-word/unicode/newline docs)") {
    // The `nw >= 2` class of bug (round-9 verdict item 8): empty docs,
    // 1-word docs, whitespace-only text, unicode, embedded newlines/tabs
    // were guarded ad hoc per op. This runs the WHOLE text/corpus family
    // over a corpus made of nothing but those edge cases, asserting
    // no-throw — the key list is derived from SparkEntry.queries, so a
    // new text op is covered the day it lands.
    val docs = Seq(
      (1L, "", "en", "src0", 0L),                                    // empty
      (2L, "word", "en", "src0", 4L),                                // 1 word
      (3L, "a b", "en", "src0", 3L),                                 // < 3-shingle
      (4L, "héllo wörld ünïcode 日本語 🚀 ok", "zz", "src1", 24L), // unicode + emoji
      (5L, "line1\nline2\ttab  doubled  spaces", "en", "src1", 32L), // newline/tab/runs
      (6L, "   ", "en", "src0", 3L),                                 // whitespace-only
      (7L, "the the the the", "en", "src0", 15L),                    // all-stopword repeat
      (8L, "word", "en", "src2", 4L))                                // exact dup of 2
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus_prep_pipeline_v3's semantic stage reads embeddings for the
    // surviving doc_ids — give the adversarial corpus an equally
    // adversarial embedding side (zero vectors + exact duplicates) so
    // the whole family stays runnable on the fixture.
    def ev(pos: Int): Array[Float] = {
      val a = Array.fill(64)(0f); if (pos >= 0) a(pos) = 1f; a
    }
    val emb = Seq((1L, ev(-1), 0), (2L, ev(0), 0), (3L, ev(0), 1),
      (4L, ev(1), 1), (5L, ev(-1), 0))
      .toDF("vec_id", "embedding", "label")
    val dir = miniDir("documents" -> docs, "embeddings" -> emb)
    val keys = SparkEntry.queries.keySet.toSeq.sorted
      .filter(k => k.startsWith("text_") || k.startsWith("corpus_"))
    assert(keys.size >= 30, s"text/corpus family shrank? found ${keys.size}")
    val failures = keys.flatMap { k =>
      try { SparkEntry.queries(k)(spark, dir).collect(); None }
      catch { case e: Throwable => Some(s"$k: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every vec_*/graph_*/multimodal_* op survives an adversarial embedding table " +
    "(zero vectors incl. the query, exact duplicates, sub-k corpus)") {
    // The vector twin of the adversarial-corpus gate: a zero QUERY vector
    // makes every cosine NaN (0/0), a zero corpus vector NaNs one side,
    // exact duplicates force sim ties at the top-k boundary, and a corpus
    // smaller than k/cluster counts exercises the empty-cell paths. The
    // bar is no-throw; NaN-valued outputs are legal. Key list derives
    // from SparkEntry.queries so new vector ops are covered on landing.
    def v(pos: Int): Array[Float] = {
      val a = Array.fill(64)(0f); if (pos >= 0) a(pos) = 1f; a
    }
    val emb = Seq(
      (0L, v(-1), 0),  // ZERO query vector → all sims NaN
      (1L, v(0), 0),
      (2L, v(0), 0),   // exact duplicate of 1 → top-k tie
      (3L, v(1), 0),
      (4L, v(2), 1),
      (5L, v(-1), 1),  // zero corpus vector
      (6L, v(3), 1))
      .toDF("vec_id", "embedding", "label")
    val docs = Seq(
      (1L, "", "en", "src0", 0L),
      (2L, "word", "en", "src0", 4L),
      (3L, "a b c", "en", "src1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // graph_pagerank_step builds its edges from lineitem⋈orders, not the
    // embedding graph — give it a two-edge world.
    val li = Seq((1L, 10L), (2L, 11L)).toDF("l_orderkey", "l_suppkey")
    val ord = Seq((1L, 20L), (2L, 21L)).toDF("o_orderkey", "o_custkey")
    val dir = miniDir(
      "embeddings" -> emb, "documents" -> docs, "lineitem" -> li, "orders" -> ord)
    val keys = SparkEntry.queries.keySet.toSeq.sorted.filter(k =>
      k.startsWith("vec_") || k.startsWith("graph_") || k.startsWith("multimodal_"))
    assert(keys.size >= 25, s"vector family shrank? found ${keys.size}")
    val failures = keys.flatMap { k =>
      try { SparkEntry.queries(k)(spark, dir).collect(); None }
      catch { case e: Throwable => Some(s"$k: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the HNSW walk keys give zero rows when the query or the rest of the corpus is missing") {
    // The walk takes the query set as a frame and anchors its answer on
    // the exact leg, so an absent query vector (no vec_id 0) or a corpus
    // of only the query (no other vector) gives zero rows, no throw — like
    // the oracle's empty truth leg. The flat greedy and beam keys run the
    // same walk.
    def v(pos: Int): Array[Float] = { val a = Array.fill(64)(0f); a(pos) = 1f; a }
    val noQuery = Seq((1L, v(0), 0), (2L, v(1), 0), (3L, v(2), 1)).toDF("vec_id", "embedding", "label")
    val onlyQuery = Seq((0L, v(0), 0)).toDF("vec_id", "embedding", "label")
    for ((name, emb) <- Seq("no query" -> noQuery, "only the query" -> onlyQuery)) {
      val dir = miniDir("embeddings" -> emb)
      for (k <- Seq("vec_hnsw_search", "vec_hnsw_persist_search", "vec_hnsw_batch_search",
          "vec_graph_greedy_search", "vec_graph_beam_search")) {
        val n = SparkEntry.queries(k)(spark, dir).count()
        assert(n == 0, s"$k on a corpus with $name: $n rows")
      }
    }
  }

  test("cardinality algebra: |A semi B| <= |A|, |A unionAll B| = |A|+|B|") {
    samples(4).grouped(2).collect { case Seq(a, b) =>
      val da = a.toDF("k", "v")
      val db = b.toDF("k", "v")
      assert(da.join(db, Seq("k"), "left_semi").count() <= da.count())
      assert(da.unionAll(db).count() == da.count() + db.count())
    }.toList
  }

  test("semi + anti partition the left side") {
    samples(4).grouped(2).collect { case Seq(a, b) =>
      val da = a.toDF("k", "v")
      val db = b.toDF("k", "v")
      val semi = da.join(db, Seq("k"), "left_semi").count()
      val anti = da.join(db, Seq("k"), "left_anti").count()
      assert(semi + anti == da.count())
    }.toList
  }

  test("decimal SUM is partitioning-invariant") {
    samples(3).filter(_.nonEmpty).foreach { a =>
      val df = a.toDF("k", "v").select(col("v").cast("decimal(18,2)").as("v"))
      val s1 = df.coalesce(1).agg(sum("v")).head.getDecimal(0)
      val s4 = df.repartition(4).agg(sum("v")).head.getDecimal(0)
      assert(s1 == s4)
    }
  }

  test("row_number is a permutation of 1..n per partition key") {
    import org.apache.spark.sql.expressions.Window
    samples(3).filter(_.nonEmpty).foreach { a =>
      val df = a.zipWithIndex.map { case ((k, v), i) => (k, v, i) }.toDF("k", "v", "id")
      val w = Window.partitionBy("k").orderBy("v", "id")
      val rns = df.withColumn("rn", row_number().over(w))
        .groupBy("k").agg(collect_list("rn").as("rns"))
        .collect()
      rns.foreach { r =>
        val l = r.getSeq[Int](1)
        assert(l.sorted == (1 to l.size).toList)
      }
    }
  }

  test("rollup total row equals grand total") {
    samples(3).foreach { a =>
      val df = a.toDF("k", "v")
      val roll = df.rollup("k").agg(count(lit(1)).as("n")).collect()
      val total = roll.filter(_.isNullAt(0)).map(_.getLong(1)).sum
      assert(total == df.count())
    }
  }

  test("dedup idempotence") {
    samples(3).foreach { a =>
      val df = a.toDF("k", "v")
      val d1 = df.dropDuplicates()
      assert(d1.dropDuplicates().count() == d1.count())
    }
  }

  test("skew salting preserves join semantics for arbitrary frames") {
    samples(4).grouped(2).collect { case Seq(a, b) =>
      val fact = a.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "row_id")
      val dim = b.map(_._1).distinct.zipWithIndex.map { case (k, i) => (k, s"d$i") }
        .toDF("k", "attr")
      val plain = fact.join(dim, Seq("k"))
        .select("row_id", "attr").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val saltedDim = dim.withColumn("salt", explode(expr("sequence(0, 3)")))
      val saltedFact = fact.withColumn("salt", expr("CAST(row_id % 4 AS INT)"))
      val salted = saltedFact.join(saltedDim, Seq("k", "salt"))
        .select("row_id", "attr").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(salted == plain)
    }.toList
  }

  test("upsert is idempotent: applying the same changes twice changes nothing") {
    samples(4).grouped(2).collect { case Seq(a, b) =>
      val base = a.groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toSeq.toDF("k", "v")
      val changes = b.groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toSeq.toDF("k", "nv")
      def upsert(cur: org.apache.spark.sql.DataFrame) = cur
        .join(changes, Seq("k"), "full")
        .select(col("k"), coalesce(col("nv"), col("v")).as("v"))
      val once = upsert(base).collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val twice = upsert(upsert(base)).collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(twice == once)
      // |merged| = |base| + |insert-only keys|.
      val baseKeys = base.select("k").collect().map(_.getInt(0)).toSet
      val chKeys = changes.select("k").collect().map(_.getInt(0)).toSet
      assert(once.size == baseKeys.size + (chKeys -- baseKeys).size)
    }.toList
  }

  test("minhash_sketch aggregate is partitioning-invariant (distributive merge)") {
    Tables.conf(spark)
    samples(3).filter(_.nonEmpty).foreach { a =>
      val df = a.toDF("k", "v").select(col("k"), col("v").cast("long").as("th"))
      def sig(d: org.apache.spark.sql.DataFrame) = d
        .groupBy("k").agg(expr("minhash_sketch(th, 8)").as("sig"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      assert(sig(df.coalesce(1)) == sig(df.repartition(8)))
    }
  }

  test("chunking with overlap covers every character and reconstructs the doc") {
    // Every document position is covered by >=1 chunk; concatenating each
    // chunk's non-overlapping prefix (the stride) plus the final chunk's
    // tail reconstructs the document exactly.
    val rows = SparkEntry.queries("text_chunk_overlap")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .groupBy(_._1)
    val docs = Tables.t(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      if (text.nonEmpty) {
        val chunks = rows(id).sortBy(_._2)
        assert(chunks.head._2 == 0L, s"doc $id: first chunk must start at 0")
        // Strides are contiguous: each chunk starts exactly 400 after the
        // previous, and each chunk spans past the next start (overlap > 0)
        // unless it is the last.
        chunks.sliding(2).foreach {
          case Array((_, s1, c1), (_, s2, _)) =>
            assert(s2 == s1 + 400, s"doc $id: stride gap at $s1")
            assert(s1 + c1.length > s2, s"doc $id: no overlap at $s1")
          case _ => ()
        }
        val rebuilt = chunks.map { case (_, start, c) =>
          if (start == chunks.last._2) c else c.take(400)
        }.mkString
        assert(rebuilt == text, s"doc $id: reconstruction mismatch")
      }
    }
  }

  test("cluster-contraction connected components == union-find on random graphs") {
    // The cluster-contraction loop (PipelineOps.connectedComponents) is
    // the one custom iterative algorithm in the engine; the DuckDB oracle
    // only exercises the corpus graphs, so pin it here against a textbook
    // union-find over random edge sets — including long chains, which is
    // the shape where a broken jump step would diverge (a chain's
    // diameter is what the jump collapses).
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L)))
    val cases = (0 until 6).flatMap(i =>
      edgeGen(Gen.Parameters.default.withSize(25), Seed(1000L + i))) :+
      (0L to 30L).sliding(2).map(s => (s.head, s.last)).toList // 30-long chain
    cases.filter(_.nonEmpty).foreach { raw =>
      val es = raw.filter { case (a, b) => a != b }
      if (es.nonEmpty) {
        // Reference union-find with path compression.
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        // Canonicalize: every node labeled with the MIN node of its root's
        // component (union-find roots aren't min by construction).
        val byRoot = nodes.groupBy(find)
        val expected = byRoot.values.flatMap { members =>
          val m = members.min; members.map(_ -> m)
        }.toMap
        val got = ops.PipelineOps.connectedComponents(
            es.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"CC mismatch on ${es.size} edges")
        // Same graph FORCED multi-partition: a tiny rows-per-partition
        // target makes the local union-find see only fragments of each
        // component, so the GLOBAL contraction loop must do the real
        // cross-partition merging (at test sizes the default coalesces to
        // one partition and the local UF alone would solve everything —
        // this leg keeps the loop itself pinned).
        val gotMulti = ops.PipelineOps.connectedComponents(
            es.toDF("a", "b").repartition(5), ufRowsPerPartition = 2L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotMulti == expected,
          s"multi-partition CC mismatch on ${es.size} edges")
      }
    }
  }

  test("(F,B) label-pair refinement SCC == reference Tarjan on random digraphs") {
    // The refinement loop (PipelineOps.stronglyConnectedComponents) is the
    // engine's second custom iterative algorithm; there is no DuckDB
    // oracle (directed reachability closures are unbounded by component
    // size), so pin it against a textbook Tarjan over random digraphs —
    // plus a directed chain (all singletons: reachability without mutual
    // reachability) and a directed ring (one cycle = one SCC), the two
    // shapes where a premature stop or a leaky class restriction diverges.
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    val chain = (0L to 20L).sliding(2).map(s => (s.head, s.last)).toList
    val cases = (0 until 6).flatMap(i =>
      edgeGen(Gen.Parameters.default.withSize(30), Seed(2000L + i))) :+
      chain :+ (chain :+ (20L -> 0L))
    cases.map(_.filter { case (a, b) => a != b }.distinct)
      .filter(_.nonEmpty).foreach { es =>
        // Reference: recursive Tarjan, components canonicalized to the
        // min-member label the distributed algorithm guarantees.
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
        var idx = 0
        val index = scala.collection.mutable.Map.empty[Long, Int]
        val low = scala.collection.mutable.Map.empty[Long, Int]
        val onStack = scala.collection.mutable.Set.empty[Long]
        val stack = scala.collection.mutable.Stack.empty[Long]
        val comps = scala.collection.mutable.ArrayBuffer.empty[List[Long]]
        def strongconnect(v: Long): Unit = {
          index(v) = idx; low(v) = idx; idx += 1
          stack.push(v); onStack += v
          adj.getOrElse(v, Nil).foreach { w =>
            if (!index.contains(w)) {
              strongconnect(w); low(v) = math.min(low(v), low(w))
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          }
          if (low(v) == index(v)) {
            val buf = scala.collection.mutable.ListBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.pop(); onStack -= w; buf += w; w != v }) ()
            comps += buf.toList
          }
        }
        nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
        val expected = comps.flatMap { c =>
          val m = c.min; c.map(_ -> m)
        }.toMap
        val (got, rounds) =
          ops.PipelineOps.stronglyConnectedComponents(es.toDF("a", "b"))
        val gm = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Caches.releaseCheckpoint(got)
        assert(gm == expected,
          s"SCC mismatch on ${es.size} edges (rounds=$rounds): got=$gm want=$expected")
        // Same graph FORCED multi-partition AND forced past the driver
        // cap: a tiny rows-per-partition target makes each local Tarjan
        // see only fragments, and condenseDriverCap = 0 pushes the
        // condensation into the DISTRIBUTED refinement loop — so the star
        // consolidation and the (F, B) refinement both do the real
        // cross-partition work (at test sizes everything coalesces to one
        // partition otherwise and the local pass alone would solve it).
        val (gotMulti, _) = ops.PipelineOps.stronglyConnectedComponents(
          es.toDF("a", "b").repartition(5), tarjanRowsPerPartition = 2L,
          condenseDriverCap = 0L)
        val gmm = gotMulti.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Caches.releaseCheckpoint(gotMulti)
        assert(gmm == expected,
          s"multi-partition SCC mismatch on ${es.size} edges: got=$gmm want=$expected")
      }
  }

  test("connected components label self-loop-only nodes as their own singletons") {
    // The documented contract is a label for EVERY edge-incident node; a
    // self-loop carries no connectivity but its node is edge-incident.
    // Node 7 appears only as (7,7); node 2 has a self-loop AND a real
    // edge — it must take its component's min, not a duplicate singleton.
    val got = ops.PipelineOps.connectedComponents(
        Seq((7L, 7L), (2L, 2L), (2L, 9L), (4L, 5L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted
    assert(got.toSeq == Seq(2L -> 2L, 4L -> 4L, 5L -> 4L, 7L -> 7L, 9L -> 2L))
  }

  test("MIPS via cosine equals brute-force MIPS on random corpora (reduction is lossless)") {
    // The sf0.001 EquivalenceSuite pin checks ONE corpus; the reduction's
    // losslessness claim is universal — verify it on random embedding
    // sets (varying dims/norms, including near-zero and dominant-norm
    // vectors, the cases where augmented-cosine vs raw-ip order would
    // first diverge if the algebra were wrong).
    val vecGen = Gen.listOfN(8, Gen.choose(-50, 50))
    (0 until 4).foreach { c =>
      val rows = (0L until 25L).map { i =>
        val vs = vecGen(Gen.Parameters.default, Seed(c * 1000L + i)).get
        (i, vs.map(v => v / 10f).toArray, (i % 4).toInt)
      }
      val dir = miniDir("embeddings" -> rows.toDF("vec_id", "embedding", "label"))
      val via = SparkEntry.queries("vec_mips_via_cosine")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = SparkEntry.queries("vec_mips_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(via == brute, s"case $c: augmented route diverged\n via=$via\n brute=$brute")
    }
  }

  test("bpe apply matches a reference greedy-merge tokenizer on random corpora") {
    // Independent Scala re-implementation of the spec: top-5 in-word char
    // pairs per lang by (count desc, pair asc), applied as greedy
    // left-to-right non-overlapping SINGLE-TOKEN-PAIR merges in rank
    // order. Any divergence (cross-token welding, overlap double-fires,
    // rank-order drift) between the engine's string-fold representation
    // and this token-vector reference is a semantics bug.
    def refTokens(docs: Seq[(String, String)]): Map[String, (Long, Long)] =
      docs.groupBy(_._2).map { case (lang, ds) =>
        val words = ds.flatMap(_._1.split(" ", -1)).filter(_.nonEmpty)
        val merges = words.filter(_.length >= 2)
          .flatMap(w => w.sliding(2))
          .groupBy(identity).view.mapValues(_.size).toSeq
          .sortBy { case (p, n) => (-n, p) }.take(5).map(_._1)
        val counts = ds.map { case (text, _) =>
          val chars = text.count(_ != ' ').toLong
          val toks = text.split(" ", -1).filter(_.nonEmpty).map { w =>
            var t = w.map(_.toString).toVector
            merges.foreach { m =>
              val (x, y) = (m.substring(0, 1), m.substring(1, 2))
              val out = Vector.newBuilder[String]
              var i = 0
              while (i < t.length) {
                if (i + 1 < t.length && t(i) == x && t(i + 1) == y) { out += m; i += 2 }
                else { out += t(i); i += 1 }
              }
              t = out.result()
            }
            t.length.toLong
          }.sum
          (chars, toks)
        }
        lang -> ((counts.map(_._1).sum, counts.map(_._2).sum))
      }
    val wordGen = Gen.listOfN(6, Gen.oneOf("a", "b", "c")).map(_.mkString)
    val docGen = Gen.listOfN(4, wordGen).map(_.mkString(" "))
    (0 until 4).foreach { c =>
      val docs = (0L until 20L).map { i =>
        (i, docGen(Gen.Parameters.default, Seed(c * 500L + i)).get,
          if (i % 2 == 0) "xx" else "yy")
      }
      val dir = miniDir("documents" -> docs.toDF("doc_id", "text", "lang"))
      val got = SparkEntry.queries("text_bpe_apply")(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      val want = refTokens(docs.map(d => (d._2, d._3)))
      assert(got == want, s"case $c: engine=$got reference=$want")
    }
  }

  test("temperature sample matches a reference sampler on random corpora") {
    // Full Scala re-derivation: √-weights summed in lang order, budget
    // N/2, floor keep-per-million thresholds, md5 coin per doc. JVM sqrt
    // is the same correctly-rounded IEEE op the engines use, so the
    // reference reproduces the thresholds bit-exactly — any drift in the
    // op's summation order or coin would surface here on random shapes.
    def coin(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ts_$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 1000000L
    }
    val langsGen = Gen.choose(1, 4)
    (0 until 3).foreach { c =>
      val nLangs = langsGen(Gen.Parameters.default, Seed(c.toLong)).get
      val docs = (0L until 40L).map(i =>
        (i, "w w w", s"l${(i % (nLangs + 1)).min(nLangs - 1)}"))
      val dir = miniDir("documents" -> docs.toDF("doc_id", "text", "lang"))
      val counts = docs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val sw = counts.keys.toSeq.sorted.map(l => math.sqrt(counts(l).toDouble)).sum
      val budget = (docs.size / 2).toDouble
      val thresholds = counts.map { case (l, n) =>
        l -> math.floor(math.min(1.0, budget * (math.sqrt(n.toDouble) / sw) / n) * 1e6).toLong
      }
      val keptRef = docs.filter(d => coin(d._1) < thresholds(d._3))
        .groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val got = SparkEntry.queries("corpus_temperature_sample")(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      thresholds.foreach { case (l, t) =>
        assert(got(l) == ((t, keptRef.getOrElse(l, 0L))),
          s"case $c lang $l: engine=${got(l)} reference=(${t}, ${keptRef.getOrElse(l, 0L)})")
      }
    }
  }

  test("holt linear matches a reference fold on random daily series") {
    val d0 = 1704067200L * 1000000000L
    val day = 86400L * 1000000000L
    val cntGen = Gen.choose(1, 9)
    (0 until 3).foreach { c =>
      val perDay = (0 until 12).map(i =>
        cntGen(Gen.Parameters.default, Seed(c * 100L + i)).get)
      val rows = perDay.zipWithIndex.flatMap { case (n, di) =>
        (0 until n).map(j => ((di * 100 + j).toLong, d0 + di * day + j, 1L, "x", 1.0, "{}"))
      }
      val dir = miniDir("events" -> rows
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val got = SparkEntry.queries("ts_holt_linear")(spark, dir).head()
      var (l, b) = (perDay.head.toDouble, 0.0)
      perDay.tail.foreach { v =>
        val nl = 0.5 * v + 0.5 * (l + b)
        b = 0.5 * (nl - l) + 0.5 * b
        l = nl
      }
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.getLong(1) == perDay.length.toLong)
      assert(got.getDouble(2) == r4(l) && got.getDouble(3) == r4(b),
        s"case $c: got (${got.getDouble(2)}, ${got.getDouble(3)}) want (${r4(l)}, ${r4(b)})")
    }
  }

  test("connected components reject non-integral id columns loudly") {
    // The union-find stage routes ids through cast("long"); a double or
    // string id would truncate silently and corrupt labels (round-11
    // advice). The seam must throw, not mislabel.
    val doubles = intercept[IllegalArgumentException] {
      ops.PipelineOps.connectedComponents(
        Seq((1.5, 2.0), (2.0, 3.5)).toDF("a", "b"))
    }
    assert(doubles.getMessage.contains("integral"))
    val strings = intercept[IllegalArgumentException] {
      ops.PipelineOps.connectedComponents(
        Seq(("x", "y")).toDF("a", "b"))
    }
    assert(strings.getMessage.contains("integral"))
  }

  test("round-8/9 keys are partitioning-invariant (digest equal at 3 vs 11 shuffle partitions)") {
    // The 100 TB correctness property: a result that changes with the
    // shuffle-partition count has an order-dependent accumulation hiding
    // in it (float sums, nondeterministic ties). Run each listed key at
    // two co-prime partition counts and compare the order-insensitive
    // Golden digest. sf0.001 keeps this cheap (<1 s/run).
    val keys = Seq(
      "vec_kmeans_train", "quality_ks_drift", "graph_triangle_count",
      "vec_recall_eval", "win_cumulative_distinct", "ts_attribution_last_touch",
      "multimodal_infer_batched", "vec_matryoshka_recall", "text_span_novelty",
      "ts_forecast_eval_naive", "quality_column_profile", "join_asof_tolerance",
      // The float-surfacing older keys — the set where an order-dependent
      // accumulation would most plausibly hide.
      "agg_stats", "agg_linreg", "agg_higher_moments", "agg_weighted_percentile",
      "ts_ewma", "ts_cusum_changepoint", "vec_power_iteration",
      "vec_ivf_topk", "text_tfidf_topterms", "quality_drift_report",
      // Round-9 keys, float-surfacing or loop-bearing first.
      "vec_silhouette", "text_char_entropy", "ts_acf", "ts_dow_profile",
      "ts_yoy_growth", "win_pareto_abc", "quality_benford",
      "graph_connected_components", "ts_interval_union",
      "ts_transition_matrix", "link_fuzzy_blocked", "corpus_token_budget",
      "sample_split_train_test", "win_gaps_islands", "ts_rolling_median",
      "etl_late_arriving_dim", "win_range_time_frame", "agg_welch_ttest",
      "agg_chi_square", "agg_gini", "etl_table_checksum",
      // The statistical/curve keys added after the µs-testdata cutover —
      // every one carries a float surface (rank z, ln/exp curve, Pearson
      // quotient, MAD quotient, Flesch milli-points).
      "agg_mann_whitney", "ts_survival_km", "ts_xcorr", "ts_anomaly_mad",
      "graph_label_prop_step", "text_readability", "vec_auc_roc",
      "vec_mips_topk", "agg_log_histogram", "etl_bitemporal_asof",
      "quality_freshness_report", "ts_active_users_rolling",
      "win_drawdown", "vec_maxsim_topk", "join_asof_nearest",
      "ts_burstiness", "etl_retention_ttl",
      // Round-10 additions over the shared token-tf checkpoint + the
      // integer gram matrix — each carries a per-group summation whose
      // order-insensitivity (micro-unit rounding before the sum) is the
      // exact property this gate checks.
      "text_lm_perplexity", "text_zipf_fit", "vec_gram_matrix",
      // Round-12 additions: the augmented-cosine MIPS route (float cosine
      // cut + float ip re-rank), the BPE fold (order-sensitive if the
      // merge list ever stopped being rank-sorted), the √-weight
      // temperature mix (Σ√cnt must fold in lang order), the per-qid
      // batched ranking, the Holt recursion (fold over the day-sorted
      // series), and the vote-window confusion rollup.
      "vec_mips_via_cosine", "text_bpe_apply", "corpus_temperature_sample",
      "vec_ivf_batch_topk", "ts_holt_linear", "text_langid_confusion",
      "text_dedup_incremental", "vec_graph_greedy_search", "vec_graph_beam_search")
    val conf = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(conf)
    try keys.foreach { k =>
      val digests = Seq("3", "11").map { p =>
        spark.conf.set(conf, p)
        Golden.digest(SparkEntry.queries(k)(spark, sf0001), k)
      }
      assert(digests(0) == digests(1),
        s"$k output depends on shuffle partitioning: ${digests(0)} vs ${digests(1)}")
    } finally spark.conf.set(conf, prev)
  }
}

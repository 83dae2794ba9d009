package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

import graft.incremental.Incremental
import graft.functions.Det

/** Property-based invariants over generated inputs — the algebraic
  * laws the operators promise, checked beyond hand-picked examples.
  * (Raw ScalaCheck Properties; sbt runs the framework natively.)
  */
object PropertySpec extends Properties("graft") {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(10)

  private val smallRows: Gen[List[(Int, Int, Double)]] =
    Gen.listOfN(30, Gen.zip(Gen.choose(1, 6), Gen.choose(1, 50), Gen.choose(-100.0, 100.0)))

  // arbitrary unicode words joined by arbitrary whitespace runs — the
  // adversarial input space for the native shingle/ngram kernels
  private val messyText: Gen[String] = {
    val word = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        (8, Gen.alphaNumChar.map(_.toString)),
        (1, Gen.oneOf("\u00e9", "\u00df", "\u4e2d", "\ud83d\ude42", ".")))).map(_.mkString))
    val ws = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(' ', '\t', '\n')).map(_.mkString))
    for {
      k <- Gen.choose(0, 12)
      words <- Gen.listOfN(k, word)
      seps <- Gen.listOfN(k + 1, ws)
      lead <- Gen.oneOf("", " ", "\t")
    } yield lead + words.zip(seps).map { case (w, s) => w + s }.mkString
  }

  property("native word shingles/hashes == HOF forms on messy unicode text") =
    Prop.forAll(Gen.listOfN(8, messyText), Gen.choose(1, 6)) { (texts, n) =>
      texts.isEmpty || {
        val df = texts.toDF("text")
        df.select(
          graft.llm.Dedup.wordShingles(col("text"), n).as("nat"),
          graft.llm.Dedup.wordShinglesHof(col("text"), n).as("hof"),
          graft.plans.TextExpressions.wordShingleHashes(col("text"), n).as("nath"),
          array_sort(transform(graft.llm.Dedup.wordShinglesHof(col("text"), n),
            s => xxhash64(s))).as("hofh"))
          .as[(Seq[String], Seq[String], Seq[Long], Seq[Long])].collect()
          .forall { case (nat, hof, nath, hofh) => nat == hof && nath == hofh }
      }
    }

  property("native array n-grams == HOF form on messy unicode text") =
    Prop.forAll(Gen.listOfN(8, messyText), Gen.choose(1, 5)) { (texts, n) =>
      texts.isEmpty || {
        val df = texts.toDF("text")
          .select(graft.llm.Search.tokens(col("text")).as("__toks"))
        df.select(
          graft.plans.TextExpressions.arrayNgrams(col("__toks"), n).as("nat"),
          graft.llm.Search.ngramsHof(col("__toks"), n).as("hof"))
          .as[(Seq[String], Seq[String])].collect()
          .forall { case (nat, hof) => nat == hof }
      }
    }

  property("Det.sumAt invariant under partition count") =
    Prop.forAll(smallRows, Gen.choose(1, 7)) { (rows, parts) =>
      rows.isEmpty || {
        val df = rows.toDF("k", "seq", "v")
        val a = df.agg(Det.sumAt(col("v"), 4)).as[Double].head()
        val b = df.repartition(parts).agg(Det.sumAt(col("v"), 4)).as[Double].head()
        a == b
      }
    }

  property("dedupLatest idempotent, one row per key") =
    Prop.forAll(smallRows) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "seq", "v")
        val once = Incremental.dedupLatest(df, Seq("k"), Seq(col("seq"), col("v")))
        val twice = Incremental.dedupLatest(once, Seq("k"), Seq(col("seq"), col("v")))
        once.count() == rows.map(_._1).distinct.size &&
          once.orderBy("k", "seq").collect().toSeq ==
            twice.orderBy("k", "seq").collect().toSeq
      }
    }

  property("upsert: union keys, updates win, self-upsert is identity") =
    Prop.forAll(smallRows, smallRows) { (t, u) =>
      t.isEmpty || u.isEmpty || {
        val target = t.map(r => (r._1, r._3)).distinctBy(_._1).toDF("k", "v")
        val updates = u.map(r => (r._1, r._3)).distinctBy(_._1).toDF("k", "v")
        val out = Incremental.upsert(target, updates, Seq("k"))
        val keys = out.select("k").as[Int].collect().sorted.toSeq
        val um = u.map(r => (r._1, r._3)).distinctBy(_._1).toMap
        val got = out.as[(Int, Double)].collect().toMap
        val self = Incremental.upsert(target, target, Seq("k"))
        keys == (t.map(_._1) ++ u.map(_._1)).distinct.sorted &&
          um.forall { case (k, v) => got(k) == v } &&
          self.orderBy("k").collect().toSeq == target.orderBy("k").collect().toSeq
      }
    }

  property("exact dedup: no duplicate content, no lost content") =
    Prop.forAll(Gen.listOfN(25,
      Gen.zip(Gen.choose(1L, 1000L), Gen.oneOf("a", "b", "c", "dd", "ee")))) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("doc_id", "text")
        val texts = graft.llm.Dedup.exact(df, "doc_id", "text")
          .select("text").as[String].collect()
        texts.length == texts.distinct.length && texts.toSet == rows.map(_._2).toSet
      }
    }

  property("all four jaccard strategies agree on random corpora") = {
    // docs from a small vocab with random lengths — the worst case for
    // set-similarity (most pairs overlap) and the regime where the
    // blocked, inverted-index, prefix-filtered and auto paths must all
    // return EXACTLY the same pairs
    val vocab = Vector("red", "blue", "green", "fox", "dog", "cat", "run", "jump")
    val doc = Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))
    val corpus = Gen.listOfN(14, Gen.zip(Gen.choose(0, 1), doc))
    Prop.forAll(corpus, Gen.oneOf(0.4, 0.6, 0.8)) { (docs, t) =>
      docs.isEmpty || {
        val df = docs.zipWithIndex
          .map { case ((blk, txt), i) => (i.toLong, s"g$blk", txt) }
          .toDF("doc_id", "grp", "text")
        import graft.llm.Dedup
        def s(d: org.apache.spark.sql.DataFrame) =
          d.select("id_a", "id_b", "jacc").as[(Long, Long, Double)].collect().toSet
        val blocked = s(Dedup.ngramJaccardPairsBlocked(df, "doc_id", "text", Seq("grp"), 1, t))
        val index = s(Dedup.ngramJaccardPairs(df, "doc_id", "text", Seq("grp"), 1, t))
        val prefix = s(Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", Seq("grp"), 1, t))
        val auto = s(Dedup.ngramJaccardPairsAuto(df, "doc_id", "text", Seq("grp"), 1, t,
          maxBlockSize = 5)) // force BOTH routes to exercise in one call
        index == blocked && prefix == blocked && auto == blocked
      }
    }
  }

  property("jaccard symmetric and bounded") = {
    val gen = Gen.listOfN(8, Gen.choose(1, 20))
    Prop.forAll(gen, gen) { (a, b) =>
      val df = Seq((a.distinct, b.distinct)).toDF("a", "b")
      val (ab, ba) = df.select(
        graft.llm.Dedup.jaccard(col("a"), col("b")),
        graft.llm.Dedup.jaccard(col("b"), col("a")))
        .as[(Double, Double)].head()
      ab == ba && ab >= 0.0 && ab <= 1.0
    }
  }

  // ---- sampling laws --------------------------------------------------

  private val keyRows: Gen[List[Long]] =
    Gen.listOfN(60, Gen.choose(1L, 100000L)).map(_.distinct)

  property("hash samples are NESTED: sample(f1) subset of sample(f2) for f1 <= f2") =
    Prop.forAll(keyRows, Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (ks, a, b) =>
      ks.isEmpty || {
        val (f1, f2) = (math.min(a, b), math.max(a, b))
        val df = ks.toDF("id")
        val s1 = graft.llm.Sampling.sample(df, "id", f1).as[Long].collect().toSet
        val s2 = graft.llm.Sampling.sample(df, "id", f2).as[Long].collect().toSet
        s1.subsetOf(s2) // cutoff-prefix sampling grows monotonically
      }
    }

  property("splitTag is disjoint and exhaustive for any split config") = {
    // three fractions must stay under the operator's "sum <= 1"
    // contract even at the generator's maximum: 3 x 0.3 = 0.9
    val fracs = Gen.listOfN(3, Gen.choose(0.05, 0.3))
    // noShrink: scalacheck's double shrinker steps outside the
    // generator's [0.05, 0.4] range (to negatives), tripping the
    // operator's own fraction validation rather than the law
    Prop.forAllNoShrink(keyRows, fracs) { (ks, fs) =>
      ks.isEmpty || {
        val splits = fs.zipWithIndex.map { case (f, i) => s"s$i" -> f } :+ ("rest" -> 0.0)
        val df = ks.toDF("id")
          .withColumn("t", graft.llm.Sampling.splitTag(col("id"), splits))
        val n = df.count()
        val nonNull = df.filter(col("t").isin(splits.map(_._1): _*)).count()
        n == ks.size && nonNull == n // every row gets exactly one known tag
      }
    }
  }

  property("mixture with all-unit weights is the identity (copy_idx = 1)") =
    Prop.forAll(keyRows) { ks =>
      ks.isEmpty || {
        val df = ks.toDF("id").withColumn("s", (col("id") % 3).cast("string"))
        val out = graft.llm.Sampling.mixture(df, "id", "s", Map.empty)
        out.count() == ks.size &&
          out.filter(col("copy_idx") =!= 1).count() == 0
      }
    }

  property("dropBoilerplateLines is idempotent") = {
    val lineGen = Gen.oneOf("HEADER", "FOOTER", "common words here")
    val docGen = Gen.listOfN(3, lineGen).map(_.mkString("\n"))
    Prop.forAll(Gen.listOfN(6, docGen)) { texts =>
      texts.isEmpty || {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        // drop docs emptied by the clean, as a real pipeline does —
        // otherwise their "" bodies form a NEW corpus-frequent line
        // (property-discovered counterexample)
        val once = graft.llm.Dedup.dropBoilerplateLines(df, "doc_id", "text")
          .filter(col("clean") =!= "")
          .select(col("doc_id"), col("clean").as("text"))
        val twice = graft.llm.Dedup.dropBoilerplateLines(once, "doc_id", "text")
        // a kept line occurs in < minDocs docs; cleaning adds no lines
        // and removes docs, so occurrence counts only shrink — a second
        // pass keeps everything
        twice.filter(col("n_dropped") =!= 0).count() == 0
      }
    }
  }

  property("chunking: strides reassemble the document, all chars covered") = {
    val doc: Gen[String] = Gen.choose(0, 400).flatMap(n =>
      Gen.stringOfN(n, Gen.alphaNumChar))
    Prop.forAll(Gen.listOfN(5, doc), Gen.choose(2, 50), Gen.choose(0, 1)) {
      (texts, size, ovFlag) =>
        val overlap = if (ovFlag == 1) size / 2 else 0
        val stride = size - overlap
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        val chunks = graft.llm.Search.chunkDocs(df, "id", "text", size, overlap)
          .orderBy("id", "chunk_idx").collect()
        texts.zipWithIndex.forall { case (t, i) =>
          val mine = chunks.filter(_.getAs[Long]("id") == i.toLong)
          // taking the first `stride` chars of each chunk reassembles
          // the original text exactly (every char in exactly one stride)
          mine.map(_.getAs[String]("chunk").take(stride)).mkString == t &&
            // each chunk spans [start, min(start+size-1, len)] — with
            // overlap, chunks BEFORE the last may already be short
            mine.forall { r =>
              val start = r.getAs[Long]("chunk_start").toInt
              r.getAs[String]("chunk").length ==
                math.max(math.min(size, t.length - start + 1), 0)
            }
        }
    }
  }

  property("packing: per-shard token conservation and monotone offsets") = {
    val rows: Gen[List[(Long, Int, Long)]] = Gen.listOfN(40,
      Gen.zip(Gen.choose(1L, 1000L), Gen.choose(0, 3), Gen.choose(1L, 99L)))
    Prop.forAll(rows, Gen.choose(50, 300)) { (rs, budget) =>
      val distinct = rs.distinctBy(_._1)
      distinct.isEmpty || {
        val df = distinct.toDF("id", "shard", "n_tokens")
        val got = graft.llm.Sampling
          .packSequences(df, "id", "n_tokens", budget, Seq("shard")).collect()
        got.forall { r =>
          val off = r.getAs[Long]("pack_offset")
          off >= 0 && off < budget && r.getAs[Long]("pack_id") >= 0
        } && {
          // the doc starting last in each shard has pack coordinates
          // equal to (sum of all other docs' tokens) decomposed by budget
          got.groupBy(_.getAs[Int]("shard")).forall { case (_, ss) =>
            val total = ss.map(_.getAs[Long]("n_tokens")).sum
            val last = ss.maxBy(r => (java.security.MessageDigest.getInstance("MD5")
              .digest(r.getAs[Long]("id").toString.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.take(8), r.getAs[Long]("id")))
            val before = total - last.getAs[Long]("n_tokens")
            last.getAs[Long]("pack_id") == before / budget &&
              last.getAs[Long]("pack_offset") == before % budget
          }
        }
      }
    }
  }

  property("tfidf/bm25 results invariant under physical repartitioning") = {
    val doc: Gen[String] = Gen.choose(3, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon"))
        .map(_.mkString(" ")))
    Prop.forAll(Gen.listOfN(8, doc), Gen.choose(2, 9)) { (texts, parts) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val a = graft.llm.Search.tfidfTopTerms(df, "id", "text", 2)
        .orderBy("id", "rnk").collect().toSeq
      val b = graft.llm.Search.tfidfTopTerms(df.repartition(parts), "id", "text", 2)
        .orderBy("id", "rnk").collect().toSeq
      val s1 = graft.llm.Search.bm25Search(df, "id", "text", Seq("alpha", "beta"), 5)
        .orderBy("rnk").collect().toSeq
      val s2 = graft.llm.Search.bm25Search(df.repartition(parts), "id", "text",
        Seq("alpha", "beta"), 5).orderBy("rnk").collect().toSeq
      a == b && s1 == s2
    }
  }

  property("interpolation is the identity on null-free data") =
    Prop.forAll(smallRows) { rows =>
      val distinct = rows.distinctBy(r => (r._1, r._2))
      distinct.isEmpty || {
        val df = distinct.toDF("k", "seq", "v")
        val out = graft.operators.Ops.interpolateLinear(df, "v", Seq("k"), col("seq"))
        out.orderBy("k", "seq").collect().toSeq ==
          df.orderBy("k", "seq").collect().toSeq
      }
    }

  property("asof backward match is the max right-ts at or before each left row") = {
    val rows: Gen[List[(Int, Int)]] =
      Gen.listOfN(25, Gen.zip(Gen.choose(1, 3), Gen.choose(0, 100)))
    Prop.forAll(rows, rows) { (l, r) =>
      val left = l.distinct.zipWithIndex
        .map { case ((k, t), i) => (k, t.toLong, i.toLong) }.toDF("k", "ts", "lid")
      val right = r.distinct.map { case (k, t) => (k, t.toLong, t.toLong * 7) }
        .toDF("k", "ts", "payload")
      l.distinct.isEmpty || r.distinct.isEmpty || {
        val got = graft.operators.Relational.asofJoin(left, right, Seq("k"),
          "ts", "ts", Seq("payload"))
          .select("k", "ts", "asof_payload")
          .collect().map(row => (row.getInt(0), row.getLong(1),
            Option(row.get(2)).map(_.asInstanceOf[Long])))
        val byKey = r.distinct.groupBy(_._1)
        got.forall { case (k, ts, payload) =>
          val cands = byKey.getOrElse(k, Nil).map(_._2.toLong).filter(_ <= ts)
          payload == (if (cands.isEmpty) None else Some(cands.max * 7))
        }
      }
    }
  }

  property("histogram conserves rows and respects bin edges") = {
    val vals: Gen[List[Double]] = Gen.listOfN(50, Gen.choose(-20.0, 120.0))
    Prop.forAll(vals) { vs =>
      vs.isEmpty || {
        val df = vs.toDF("v")
        val h = graft.operators.Relational.histogram(df, "v", 0.0, 100.0, 10)
          .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n")).toMap
        // every row lands in exactly one bin (edge bins clamp outliers)
        h.values.sum == vs.size && h.keys.forall(b => b >= 0 && b <= 9)
      }
    }
  }

  property("funnel step counts never increase down the funnel") = {
    val events: Gen[List[(Int, Int, String)]] = Gen.listOfN(60,
      Gen.zip(Gen.choose(1, 8), Gen.choose(0, 1000), Gen.oneOf("a", "b", "c", "x")))
    Prop.forAll(events) { es =>
      val distinct = es.distinctBy(e => (e._1, e._2))
      distinct.isEmpty || {
        val df = distinct.map { case (u, t, ty) => (u.toLong, t.toLong, ty) }
          .toDF("user_id", "ts", "event_type")
        val counts = graft.operators.Relational
          .funnel(df, "user_id", "ts", "event_type", Seq("a", "b", "c"))
          .orderBy("step_idx").select("n_users").as[Long].collect().toSeq
        counts.zip(counts.tail).forall { case (hi, lo) => hi >= lo }
      }
    }
  }

  property("winsorize preserves row count and orders bounds correctly") =
    Prop.forAll(smallRows) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "seq", "v")
        val out = graft.operators.Ops.winsorize(df, "v", 0.1, 0.9, Seq.empty, "w")
        val vals = out.select("w").as[Double].collect()
        out.count() == rows.size &&
          vals.max <= rows.map(_._3).max && vals.min >= rows.map(_._3).min
      }
    }

  // duplicate-heavy value pools exercise the tie handling of the
  // bucketed-prefix-sum KS (mass points collapsing bucket edges)
  private val sample: Gen[List[Double]] =
    Gen.choose(1, 60).flatMap(n => Gen.listOfN(n,
      Gen.frequency((3, Gen.choose(-5, 5).map(_.toDouble)),
        (1, Gen.choose(-100.0, 100.0)))))

  property("ksExact equals the driver brute force on random tied samples") =
    Prop.forAll(sample, sample, Gen.oneOf(1, 3, 16)) { (a, b, buckets) =>
      val ref = a.toDF("v"); val cur = b.toDF("v")
      val row = graft.quality.DQ.ksExact(ref, cur, "v", rangeBuckets = buckets).head()
      val pool = (a ++ b).distinct.sorted
      val brute = pool.map { x =>
        math.abs(a.count(_ <= x).toDouble / a.length -
          b.count(_ <= x).toDouble / b.length)
      }.max
      math.abs(row.getDouble(row.fieldIndex("ks")) - brute) < 1e-6
    }

  property("sampleByProb is deterministic under repartitioning and monotone in p") =
    Prop.forAll(Gen.listOfN(200, Gen.choose(1L, 1000000L)),
      Gen.choose(0.0, 1.0), Gen.choose(0.0, 0.5)) { (keys0, p, bump) =>
      val keys = keys0.distinct
      val df = keys.toDF("k")
      def kept(d: org.apache.spark.sql.DataFrame, prob: Double) =
        graft.llm.Sampling.sampleByProb(d, "k", lit(prob))
          .select("k").as[Long].collect().toSet
      val base = kept(df, p)
      base == kept(df.repartition(7), p) &&
        base.subsetOf(kept(df, math.min(1.0, p + bump)))
    }

  property("ZOrder.interleave is injective on the grid and bounded") =
    Prop.forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L)))) { pts0 =>
      val pts = pts0.distinct
      val zs = pts.toDF("x", "y")
        .select(graft.functions.ZOrder.interleave(
          Seq(col("x"), col("y")), 8).as("z"))
        .as[Long].collect().toSeq
      // distinct grid points -> distinct z values, all within 2^16
      zs.distinct.length == pts.length && zs.forall(z => z >= 0 && z < (1L << 16))
    }

  property("ZOrder.linearScale lands every value on the grid, order-preserving") =
    Prop.forAll(Gen.listOfN(30, Gen.choose(-1e6, 1e6)),
      Gen.choose(2, 12)) { (vs0: List[Double], bits: Int) =>
      val vs = vs0.distinct
      vs.size < 2 || {
        val (mn, mx) = (vs.min, vs.max)
        val scaled = vs.toDF("v")
          .select(graft.functions.ZOrder.linearScale(col("v"), mn, mx, bits).as("s"))
          .as[Long].collect()
        val cells = (1L << bits) - 1
        val inRange = scaled.forall(s => s >= 0 && s <= cells)
        // order preserved: sorting values sorts their grid cells
        val paired = vs.zip(scaled).sortBy(_._1).map(_._2)
        inRange && paired.sliding(2).forall(p => p.head <= p.last)
      }
    }

  property("Recovery.classifyError is total and the retry policy never loops on config/data") =
    Prop.forAll(Gen.asciiPrintableStr) { msg =>
      val cls = Recovery.classifyError(new RuntimeException(msg))
      // classification never throws, and the non-retryable classes
      // stay non-retryable at every attempt
      Seq(Recovery.Configuration, Recovery.DataError).forall(c =>
        !Recovery.shouldRetry(c, 0)) && (cls != null)
    }

  // arbitrary unicode payloads — the pseudonym/crypto input space
  private val payload: Gen[String] = Gen.choose(0, 40).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      (8, Gen.alphaNumChar),
      (1, Gen.oneOf('é', '中', ':', '\\', '"', ' ')))).map(_.mkString))

  property("Privacy: AES round-trips any payload; pseudonyms are keyed, deterministic, injective-ish") =
    Prop.forAll(Gen.listOfN(6, payload)) { vals =>
      vals.isEmpty || {
        val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        val key = "0123456789abcdef"
        import graft.quality.Privacy
        val back = Privacy.decryptColumns(
          Privacy.encryptColumns(df, Seq("v"), key), Seq("v"), key)
          .orderBy("id").select("v").as[String].collect().toSeq
        val p = Privacy.pseudonymize(df, Seq("v"), "k1")
          .orderBy("id").select("v").as[String].collect().toSeq
        val p2 = Privacy.pseudonymize(df, Seq("v"), "k1")
          .orderBy("id").select("v").as[String].collect().toSeq
        // round-trip exact; tokens deterministic; equal values ↔ equal
        // tokens (sha256 collisions ignored); 64-hex shape
        back == vals &&
          p == p2 &&
          vals.indices.forall(i => vals.indices.forall(j =>
            (vals(i) == vals(j)) == (p(i) == p(j)))) &&
          p.forall(_.matches("[0-9a-f]{64}"))
      }
    }

  property("Privacy.maskColumns preserves length and keeps only the tail") =
    Prop.forAll(Gen.listOfN(6, payload), Gen.choose(0, 6)) { (vals, keep) =>
      vals.isEmpty || {
        val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
        val m = graft.quality.Privacy.maskColumns(df, Seq("v"), keepLast = keep)
          .orderBy("id").select("v").as[String].collect().toSeq
        vals.zip(m).forall { case (orig, masked) =>
          masked.length == orig.length &&
            (orig.length <= keep || (masked.endsWith(orig.takeRight(keep)) &&
              masked.dropRight(keep).forall(_ == '*'))) &&
            (orig.length > keep || masked.forall(_ == '*'))
        }
      }
    }

  property("Dag.topoOrder is a permutation that respects every declared edge") =
    Prop.forAll(Gen.choose(1, 10), Gen.choose(0L, 1000L)) { (n, seed) =>
      import graft.pipeline.Dag
      // random DAG: node i may depend only on nodes < i (acyclic by
      // construction), edge pattern driven by the seed
      val rnd = new scala.util.Random(seed)
      val noop = graft.pipeline.Job.Spec(Nil, graft.pipeline.Pipeline.Spec("x", Nil),
        Nil, None, None, None, None)
      val nodes = (0 until n).map { i =>
        val deps = (0 until i).filter(_ => rnd.nextBoolean()).map(d => s"n$d")
        Dag.Node(s"n$i", noop, deps)
      }
      val order = Dag.topoOrder(nodes)
      val pos = order.zipWithIndex.toMap
      order.sorted == nodes.map(_.id).sorted &&
        nodes.forall(nd => nd.dependsOn.forall(d => pos(d) < pos(nd.id))) &&
        order == Dag.topoOrder(rnd.shuffle(nodes)) // input-order invariant
    }

  // Round6ParitySpec: the argmax kernel's fast double-arithmetic
  // HALF_UP round must be BIT-identical to the decimal-exact
  // BigDecimal reference (Spark's RoundBase semantics) — the r17
  // allocation fix is only admissible if no input can diverge. The
  // generator concentrates on where divergence could hide: the k/10^6
  // rounding lattice with half-boundary offsets and ±ulp nudges, wide
  // exponent sweeps, and the signed-zero/NaN/Inf/subnormal specials.
  property("fast round6 == decimal-exact round6 bit-for-bit") = {
    import graft.plans.VectorExpressions.{round6, round6Exact}
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val lattice: Gen[Double] = for {
      k <- Gen.choose(-2000000L, 2000000L)
      off <- Gen.oneOf(0.0, 0.5, 0.4999999999, 0.5000000001, 1e-13, -1e-13)
      ulps <- Gen.choose(-2, 2)
    } yield {
      val base = (k.toDouble + off) / 1e6
      (0 until math.abs(ulps)).foldLeft(base)((b, _) =>
        if (ulps > 0) math.nextUp(b) else math.nextDown(b))
    }
    val wide: Gen[Double] = for {
      m <- Gen.choose(-1.0, 1.0)
      e <- Gen.choose(-320, 300)
    } yield m * math.pow(10.0, e)
    // the r18 ulp-proportional band exists for THIS family: at large
    // |x| the multiply error exceeds the old fixed 1e-9 band, and fast
    // vs exact genuinely diverged at decimal half-boundaries
    // (17104.8889565 → ...956 fast vs ...957 exact pre-fix)
    val latticeBig: Gen[Double] = for {
      k <- Gen.choose(-4600000000000000L, 4600000000000000L)
      off <- Gen.oneOf(0.0, 0.5, 0.4999999, 0.5000001)
      ulps <- Gen.choose(-2, 2)
    } yield {
      val base = (k.toDouble + off) / 1e6
      (0 until math.abs(ulps)).foldLeft(base)((b, _) =>
        if (ulps > 0) math.nextUp(b) else math.nextDown(b))
    }
    val special: Gen[Double] = Gen.oneOf(Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0,
      Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, 4503599627370496.0e-6,
      math.nextDown(4503599627370496.0e-6),
      17104.8889565, -17104.8889565)
    val one: Gen[Double] = Gen.frequency(
      (4, lattice), (3, latticeBig), (3, wide), (2, special))
    Prop.forAll(Gen.listOfN(400, one)) { xs =>
      xs.forall(x => bits(round6(x)) == bits(round6Exact(x)))
    }
  }

  property("Datagen.prng stays in [0, 2^31) and distinct salts decorrelate") =
    Prop.forAll(Gen.choose(0L, 1000000L), Gen.choose(1L, 1000L)) { (start, salt) =>
      import graft.sources.Datagen
      val ids = spark.range(start, start + 200)
      val two = ids.select(
        Datagen.prng(col("id"), seed = 5, salt = salt).as("a"),
        Datagen.prng(col("id"), seed = 5, salt = salt + 1).as("b"))
        .as[(Long, Long)].collect()
      two.forall { case (a, b) => a >= 0 && a < 2147483648L && b >= 0 } &&
        two.count { case (a, b) => a == b } < 5 // streams not identical
    }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize.PinOps
import graft.operators.StockPipeline

/** Scaling probe: multiply the events table N× (time-shifted copies, so
  * window/key cardinality grows with the data instead of just row
  * density) and measure the full analysis pipeline at each multiple.
  * Near-linear wall-clock growth = the plan has no super-linear stage
  * (sorts of the raw stream, driver collects, broadcast blowups) —
  * the local evidence for the 100 TB claim.
  * Run: `sbt "runMain graft.ScaleProbe [sfDir] [multiples...]"`. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = args.lift(1).filter(Set("docs", "asof", "emb", "graph",
      "hub", "ts", "rel")).getOrElse("events")
    val docsMode = mode == "docs"
    val multiples = {
      val rest = if (mode != "events") args.drop(2) else args.drop(1)
      if (rest.nonEmpty) rest.map(_.toInt).toSeq else Seq(1, 4, 16)
    }
    val spark = GraftSession(GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")

    def multiplied(n: Int): DataFrame = {
      val base = graft.sources.Tables.events(spark, sfDir)
      (0 until n).map { k =>
        base
          .withColumn("ts", col("ts") + make_interval(
            lit(0), lit(0), lit(0), lit(31 * k), lit(0), lit(0)))
          .withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L))
      }.reduce(_ unionAll _)
    }

    // Document-pipeline probe: multiply the corpus N× with per-copy
    // token suffixes (every copy's shingles/hashes are distinct, so
    // key cardinality — not duplicate density — grows with the data and
    // pair output stays linear; quadratic growth here would mean the
    // banding/df-cap machinery failed, which is exactly what the probe
    // would expose).
    if (docsMode) {
      def multipliedDocs(n: Int): DataFrame = {
        val base = graft.sources.Tables.documents(spark, sfDir)
        (0 until n).map { k =>
          if (k == 0) base
          else base
            .withColumn("doc_id", col("doc_id") + lit(k.toLong * 1000000000L))
            .withColumn("text", expr(
              s"concat_ws(' ', transform(split(trim(text), '\\\\s+'), t -> concat(t, '_$k')))"))
        }.reduce(_ unionAll _)
      }
      import graft.operators.{Curation, Dedup, Packing}
      Dedup.minhashPairs(graft.sources.Tables.documents(spark, sfDir)).count() // warm-up
      multiples.foreach { n =>
        val df = multipliedDocs(n).pin(eager = true)
        val rows = df.count()
        def t(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime(); val c = f
          (c, (System.nanoTime() - t0) / 1e9)
        }
        val (mp, mpS) = t(Dedup.minhashPairs(df).count())
        val (jp, jpS) = t(Dedup.jaccardPairs(df).count())
        val (cp, cpS) = t(Dedup.containmentPairs(df).count())
        val (sp, spS) = t(Dedup.simhashPairs(df).count())
        val (_, paS) = t(Packing.packAssign(df).count())
        val (_, soS) = t(Packing.shuffleOrder(df).count())
        val (_, sdS) = t(Dedup.spanDedup(df).count())
        val (_, ssS) = t(Dedup.substringDedup(df).count())
        val (_, bsS) = t(Curation.budgetSelect(df).count())
        val (_, nvS) = t(graft.operators.TextAnalysis.novelty(df).count())
        val (php, phS) = t(graft.operators.Multimodal.phashPairs(df).count())
        val (_, zoS) = t(Packing.zorderLayout(df).count())
        val (_, dsS) = t(Curation.dsirScores(df).count())
        // round-7 classifier-eval ops: both are hash-agg reductions to
        // a fixed decile/bin grid, so time must track the scoring scan
        val (_, ltS) = t(Curation.liftTable(df).count())
        val (_, ccS) = t(Curation.classifierCalibration(df).count())
        // round-8 keeper-rule ops: both ride the pair->CC chain plus
        // one document-grain join, so their slope must track the
        // minhashPairs front, not add a term of their own
        val (_, kbS) = t(Dedup.keepBest(df).count())
        val (_, dvS) = t(Curation.dedupSavings(df).count())
        // round-8 additions: rake is two vocab-grain aggregates + the
        // hot/cold join; the dhash agreement panel rides the banded
        // phash candidate front (pair volume, not corpus, is the term)
        val (_, rkS) = t(graft.operators.TextAnalysis.rake(df).count())
        val (dha, dhS) =
          t(graft.operators.Multimodal.dhashAgreement(df).count())
        val (_, bmS) = t(graft.operators.TextAnalysis.bm25Top(df).count())
        // round-9 additions: cdc + landmarks are byte-grain explodes
        // (the winnowing cost family); dup-ngram/sttr/stopword are
        // vocab/segment-grain hash aggs; bbit rides the LSH candidate
        // front; spanCorruption is one map-side projection + source agg
        val (cdc, cdS) = t(Dedup.cdcChunks(df).count())
        val (_, bbS) = t(Dedup.bbitMinhash(df).count())
        val (_, dgS) = t(graft.operators.TextAnalysis.dupNgrams(df).count())
        val (_, stS) = t(graft.operators.TextAnalysis.sttr(df).count())
        val (_, swS) =
          t(graft.operators.TextAnalysis.stopwordProfile(df).count())
        val (_, alS) = t(graft.operators.Multimodal.audioLandmarks(df).count())
        val (_, scS) = t(Packing.spanCorruptionPlan(df).count())
        // round-10 session additions: pareto is the banded skyline
        // (distinct-ratio window, ≤3001 rows/lang by the 4dp grid);
        // yule/headCoverage are vocab-grain aggregates in the
        // hapax/zipf cost family
        val (pf, pfS) = t(Curation.paretoDocs(df).count())
        val (_, ysS) = t(graft.operators.TextAnalysis.yuleSimpson(df).count())
        val (_, hcS) = t(graft.operators.TextAnalysis.headCoverage(df).count())
        println(f"[scale-probe-docs] x$n%-3d docs=$rows%8d minhashPairs=$mpS%6.2fs($mp) jaccardPairs=$jpS%6.2fs($jp) containmentPairs=$cpS%6.2fs($cp) simhashPairs=$spS%6.2fs($sp) packAssign=$paS%6.2fs shuffleOrder=$soS%6.2fs spanDedup=$sdS%6.2fs substringDedup=$ssS%6.2fs budgetSelect=$bsS%6.2fs novelty=$nvS%6.2fs phashPairs=$phS%6.2fs($php) zorder=$zoS%6.2fs dsir=$dsS%6.2fs liftTable=$ltS%6.2fs calibration=$ccS%6.2fs keepBest=$kbS%6.2fs dedupSavings=$dvS%6.2fs rake=$rkS%6.2fs dhashAgree=$dhS%6.2fs($dha) bm25=$bmS%6.2fs cdc=$cdS%6.2fs($cdc) bbit=$bbS%6.2fs dupNgrams=$dgS%6.2fs sttr=$stS%6.2fs stopword=$swS%6.2fs landmarks=$alS%6.2fs spanCorrupt=$scS%6.2fs pareto=$pfS%6.2fs($pf) yule=$ysS%6.2fs headCov=$hcS%6.2fs")
      }
      spark.stop(); return
    }

    // SemDeDup probe: multiply the embedding table N× (copy k rotates
    // each vector's dimensions by k positions — unit norm preserved,
    // and every copy is a DISTINCT point for k < dim, so the probe
    // corpus genuinely disperses instead of repeating; an earlier
    // sign-flip pattern had period 4 in k and made 16× a 75%-duplicate
    // corpus) and grow k WITH the corpus — the paper's sizing rule that
    // keeps cells near-constant. Flat per-row time = the in-cell
    // pairing stays bounded; running this with FIXED k instead shows
    // the quadratic blow-up the rule avoids.
    if (mode == "emb") {
      import graft.operators.Similarity
      Similarity.semDedup(graft.sources.Tables.embeddings(spark, sfDir)).count() // warm-up
      def multipliedEmb(n: Int): DataFrame = {
        val base = graft.sources.Tables.embeddings(spark, sfDir)
        (0 until n).map { k =>
          val r = k % 64
          if (r == 0) base
            .withColumn("vec_id", col("vec_id") + lit(k.toLong * 1000000000L))
          else base
            .withColumn("vec_id", col("vec_id") + lit(k.toLong * 1000000000L))
            .withColumn("embedding", expr(
              s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))"))
        }.reduce(_ unionAll _)
      }
      multiples.foreach { n =>
        val df = multipliedEmb(n).pin(eager = true)
        val rows = df.count()
        val t0 = System.nanoTime()
        val out = Similarity.semDedup(df).count() // autoCells = 4n here
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale-probe-emb] x$n%-3d vecs=$rows%8d cells=${Similarity.sizedCells(rows)}%4d outRows=$out%8d time=$sec%7.2fs")
      }
      spark.stop(); return
    }

    // Graph/ANN probe (round-4 ops): the same rotated-copy embedding
    // growth as `emb` mode. knnGraphMultiProbe grows its cell count
    // WITH the corpus (the semDedup sizing rule — in-cell candidate
    // sets stay near-constant, and nprobe=2 doubles a CONSTANT, not a
    // corpus-sized term); binaryTopK and rerankTopK scan linearly
    // against a fixed 20-query broadcast. Near-linear wall-clock at
    // 1/4/16x is the evidence the multi-probe recall lever and the
    // two-stage serving path keep their cost model at 100 TB.
    if (mode == "graph") {
      import graft.operators.Similarity
      def multipliedEmb(n: Int): DataFrame = {
        val base = graft.sources.Tables.embeddings(spark, sfDir)
        (0 until n).map { k =>
          val r = k % 64
          if (r == 0) base
            .withColumn("vec_id", col("vec_id") + lit(k.toLong * 1000000000L))
          else base
            .withColumn("vec_id", col("vec_id") + lit(k.toLong * 1000000000L))
            .withColumn("embedding", expr(
              s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))"))
        }.reduce(_ unionAll _)
      }
      Similarity.knnGraphMultiProbe(
        graft.sources.Tables.embeddings(spark, sfDir)).count() // warm-up
      multiples.foreach { n =>
        val df = multipliedEmb(n).pin(eager = true)
        val rows = df.count()
        def t(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime(); val c = f
          (c, (System.nanoTime() - t0) / 1e9)
        }
        // round-9: every cells-parameterized call now uses the DEFAULT
        // (autoCells) — on this grid sizedCells(2000n) = 4n, the exact
        // values the probes previously passed by hand, so the curves
        // stay comparable AND the default path is what's measured
        val (mg, mgS) = t(Similarity.knnGraphMultiProbe(df).count())
        val (_, btS) = t(Similarity.binaryTopK(df).count())
        val (_, rrS) = t(Similarity.rerankTopK(df).count())
        val (_, hnS) = t(Similarity.hardNegatives(df).count())
        val (tc, tcS) = t(Similarity.knnTriangles(df).count())
        val (_, lpS) = t(Similarity.labelPropagation(df).count())
        // round-7 graph stats: every wedge/join fan-out is bounded by
        // degree ≤ k, so these must track the kNN-graph build's slope
        val (_, asS) = t(Similarity.assortativity(df).count())
        val (lk, lkS) = t(Similarity.linkPrediction(df).count())
        val (_, lcS) = t(Similarity.lpCommunities(df).count())
        // round-8 additions: dbscan's pair front is the same in-cell
        // equi-join (cells grow with the corpus); cka is n*d^2 by
        // construction; richClub rides the mutual-kNN degree table
        val (dbc, dbS) = t(Similarity.dbscan(df).count())
        val (_, ckS) = t(Similarity.ckaHalves(df).count())
        val (_, rcS) = t(Similarity.richClub(df).count())
        // round-9 additions: kcore/snn/reciprocity ride the same
        // degree-bounded edge list; spectralRadius is the pagerank
        // plan shape (3 matvecs on a k-bounded adjacency)
        val (_, kcS) = t(Similarity.kcore(df).count())
        val (sn, snS) = t(Similarity.snnGraph(df).count())
        val (_, srS) = t(Similarity.spectralRadius(df).count())
        val (_, rpS) = t(Similarity.knnReciprocity(df).count())
        // round-10 additions: the convergent-loop family — rounds are
        // data-dependent (cascade depth / diameter), so the probe
        // watches for depth growing with corpus size, not just volume
        val (_, ktS) = t(Similarity.ktruss(df).count())
        val (_, cnS) = t(Similarity.coreness(df).count())
        val (bf, bfS) = t(Similarity.bfsRadius(df).count())
        // round-10 session additions: PPR is the pagerank plan with a
        // seeded teleport (same per-round join+agg); participation
        // ratio is one dim-grain aggregate (flat by construction)
        val (_, ppS) = t(Similarity.personalizedPagerank(df).count())
        val (_, prS) = t(Similarity.participationRatio(df).count())
        println(f"[scale-probe-graph] x$n%-3d vecs=$rows%8d cells=${Similarity.sizedCells(rows)}%4d knnGraphMp=$mgS%7.2fs($mg) binaryTopK=$btS%6.2fs rerankTopK=$rrS%6.2fs hardNegatives=$hnS%6.2fs triangles=$tcS%6.2fs($tc) labelProp=$lpS%6.2fs assortativity=$asS%6.2fs linkPred=$lkS%6.2fs($lk) lpCommunities=$lcS%6.2fs dbscan=$dbS%6.2fs($dbc) cka=$ckS%6.2fs richClub=$rcS%6.2fs kcore=$kcS%6.2fs snn=$snS%6.2fs($sn) spectral=$srS%6.2fs reciprocity=$rpS%6.2fs ktruss=$ktS%6.2fs coreness=$cnS%6.2fs bfsRadius=$bfS%6.2fs($bf) ppr=$ppS%6.2fs participation=$prS%6.2fs")
      }
      spark.stop(); return
    }

    // Hub probe: a deliberately hub-concentrated adjacency — every
    // node points at ONE hub (indeg = n−1) plus a ring successor — so
    // the snn self-join's candidate mass (Σ indeg² ≈ n²) sits on a
    // single key. The hot/cold split must beat the all-cold plain
    // join as n grows (the plain join serializes the hub's n²/2 pair
    // emissions into one task; the broadcast branch spreads them
    // across every probe partition). Output is quadratic BY DESIGN on
    // this shape — the probe compares STRATEGIES at equal output, not
    // linearity.
    if (mode == "hub") {
      import graft.operators.Similarity
      def hubbed(n: Int): DataFrame = spark.range(1, n.toLong)
        .select(col("id").as("vec_id"),
          explode(array(lit(0L),
            pmod(col("id"), lit(n.toLong - 1)) + 1)).as("neighbor_id"))
      multiples.foreach { m =>
        val n = 2000 * m
        val g = hubbed(n).pin(eager = true)
        g.count()
        def t(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime(); val c = f
          (c, (System.nanoTime() - t0) / 1e9)
        }
        val (pc, plainS) = t(Similarity.snnSharedCounts(g, 0)
          .agg(count(lit(1))).head().getLong(0))
        val (sc, splitS) = t(
          Similarity.snnSharedCounts(g, Similarity.snnHotKeys)
            .agg(count(lit(1))).head().getLong(0))
        require(pc == sc, s"hot/cold split changed rows: $pc vs $sc")
        println(f"[scale-probe-hub] x$m%-3d nodes=$n%8d pairs=$pc%12d plainJoin=$plainS%7.2fs hotCold=$splitS%7.2fs speedup=${plainS / splitS}%5.2fx")
      }
      spark.stop(); return
    }

    // As-of probe: time-shifted copies keep the SAME users, so each
    // user's click history grows N× — exactly the axis the old
    // pair-fan-out form was quadratic in (a purchase saw its user's
    // whole history). The bucketed form's candidate generation is
    // per-(user, bucket), so time ~ N.
    if (mode == "asof") {
      import graft.operators.Relational
      Relational.asofJoinOn(graft.sources.Tables.events(spark, sfDir)).count() // warm-up
      multiples.foreach { n =>
        val df = multiplied(n).pin(eager = true)
        val rows = df.count()
        val t0 = System.nanoTime()
        val out = Relational.asofJoinOn(df).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale-probe-asof] x$n%-3d events=$rows%9d asofRows=$out%9d time=$sec%7.2fs")
      }
      spark.stop(); return
    }

    // Time-series probe: the same time-shifted event copies grow the
    // SPAN (each copy is +31k days), which is exactly the gap-fill
    // spine's size axis and the per-user/per-ticker window length axis.
    // Near-linear growth = the spine explode, lag-chain EWMA and LEAD
    // transitions all scale with span, with no quadratic term.
    if (mode == "ts") {
      import graft.operators.{Relational, StockPipeline, TimeSeries}
      TimeSeries.gapfillBars(TimeSeries.closeBars5m(
        StockPipeline.normalize(
          graft.sources.Tables.events(spark, sfDir)))).count() // warm-up
      multiples.foreach { n =>
        val df = multiplied(n).pin(eager = true)
        val rows = df.count()
        val bars = TimeSeries.closeBars5m(StockPipeline.normalize(df))
          .pin(eager = true)
        def t(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime(); val c = f
          (c, (System.nanoTime() - t0) / 1e9)
        }
        val (gf, gfS) = t(TimeSeries.gapfillBars(bars).count())
        val (_, ewS) = t(TimeSeries.ewmaBars(bars).count())
        val (_, cpS) = t(TimeSeries.corrPairsBars(bars).count())
        val (_, etS) = t(Relational.eventTransitionsOn(df).count())
        val (rc, rcS) = t(TimeSeries.rollingCorrBars(bars).count())
        val (_, mdS) = t(TimeSeries.macdBars(bars).count())
        // tick rule is EVENT-grain (not bar-grain): the probe point
        // that shows the round-11 bucketed rewrite holds its per-row
        // cost as the per-ticker history grows (the global-window form
        // was one task per ticker — super-linear wall time on this axis)
        val (tr, trS) = t(
          TimeSeries.tickRuleEvents(StockPipeline.normalize(df)).count())
        println(f"[scale-probe-ts] x$n%-3d events=$rows%9d gapfill=$gfS%6.2fs($gf) ewma=$ewS%6.2fs corrPairs=$cpS%6.2fs transitions=$etS%6.2fs rollingCorr=$rcS%6.2fs($rc) macd=$mdS%6.2fs tickRule=$trS%6.2fs($tr)")
      }
      spark.stop(); return
    }

    // Relational probe: key-shifted copies of part/lineitem/orders grow
    // the brand count (skyline) and the order count (basket pairs)
    // linearly while basket SIZE stays constant — pair fan-out per
    // order is basket-choose-2, so linear time here is the evidence
    // the apriori-pruned self-join has no corpus-quadratic term.
    if (mode == "rel") {
      import graft.operators.Relational
      Relational.partSkylineOn(
        graft.sources.Tables.part(spark, sfDir)).count() // warm-up
      multiples.foreach { n =>
        val part = (0 until n).map { k =>
          graft.sources.Tables.part(spark, sfDir)
            .withColumn("p_partkey", col("p_partkey") + lit(k.toLong * 1000000000L))
            .withColumn("p_brand", concat(col("p_brand"), lit(s"#$k")))
        }.reduce(_ unionAll _).pin(eager = true)
        val li = (0 until n).map { k =>
          graft.sources.Tables.lineitem(spark, sfDir)
            .withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 1000000000L))
        }.reduce(_ unionAll _).pin(eager = true)
        val ord = (0 until n).map { k =>
          graft.sources.Tables.orders(spark, sfDir)
            .withColumn("o_orderkey", col("o_orderkey") + lit(k.toLong * 1000000000L))
        }.reduce(_ unionAll _).pin(eager = true)
        val nParts = part.count(); val nLi = li.count()
        def t(f: => Long): (Long, Double) = {
          val t0 = System.nanoTime(); val c = f
          (c, (System.nanoTime() - t0) / 1e9)
        }
        val (sk, skS) = t(Relational.partSkylineOn(part).count())
        val (bp, bpS) = t(Relational.basketPairsOn(li, ord).count())
        // fuzzy axis: key-shifted customer COPIES inflate the name
        // universe n×; deletion-neighborhood buckets stay typo-sized
        val cust = (0 until n).map { k =>
          graft.sources.Tables.customer(spark, sfDir)
            .withColumn("c_name",
              concat(lit(s"C$k#"), col("c_name")))
        }.reduce(_ unionAll _).select(col("c_name").as("name"))
          .pin(eager = true)
        val (fz, fzS) = t(Relational.fuzzyPairsOf(cust).count())
        println(f"[scale-probe-rel] x$n%-3d parts=$nParts%8d lineitems=$nLi%9d skyline=$skS%6.2fs($sk) basketPairs=$bpS%6.2fs($bp) fuzzyPairs=$fzS%6.2fs($fz)")
      }
      spark.stop(); return
    }

    // warm-up
    StockPipeline.analysis(spark, sfDir).count()
    multiples.foreach { n =>
      val df = multiplied(n)
      val rows = df.count()
      val t0 = System.nanoTime()
      val joined = StockPipeline.joined(StockPipeline.normalize(df)).count()
      val t1 = System.nanoTime()
      val out = StockPipeline.withSpike(StockPipeline.joined(
        StockPipeline.normalize(df))).count()
      val t2 = System.nanoTime()
      val jSec = (t1 - t0) / 1e9
      val sSec = (t2 - t1) / 1e9
      println(f"[scale-probe] x$n%-3d events=$rows%9d joined=$jSec%7.2fs +spike=$sSec%7.2fs analysisRows=$out%9d")
    }
    spark.stop()
  }
}

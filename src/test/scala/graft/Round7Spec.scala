package graft

import org.apache.spark.sql.Row

/** Invariants + in-memory references for the round-6 late additions:
  * r61 linear interpolation, x66 duplicated-span merge, x67 near-dup
  * cross-split decontamination, x68 temperature-scaled mixing, x69
  * token-budget selection (the ExactRank.withGlobalCumsum client). */
class Round7Spec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("r61 interpolation matches an in-memory reference") {
    val out = graft.queries.TimeSeries.queries("r61_interp_fill")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r).toMap
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_id", "user_id", "unix_micros(ts) as us", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ev.groupBy(_._2).values.foreach { rows =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val vs = sorted.map { case (id, _, us, v) =>
        (id, us, if (id % 3 == 0) None else Some(v))
      }
      vs.indices.foreach { i =>
        val (id, us, v) = vs(i)
        val r = out(id)
        assert(r.isNullAt(2) == v.isEmpty)
        val prev = vs.take(i).reverse
          .collectFirst { case (_, pus, Some(pv)) => (pus, pv) }
        val next = vs.drop(i + 1)
          .collectFirst { case (_, nus, Some(nv)) => (nus, nv) }
        val expect: Option[Double] = v match {
          case Some(x) => Some(x)
          case None => (prev, next) match {
            case (Some((pus, pv)), Some((nus, nv))) =>
              Some(round6(pv + (nv - pv) *
                ((us - pus).toDouble / (nus - pus).toDouble)))
            case (Some((_, pv)), None) => Some(pv)
            case (None, Some((_, nv))) => Some(nv)
            case _ => None
          }
        }
        expect match {
          case Some(x) => assert(!r.isNullAt(3) && r.getDouble(3) == x,
            s"v_interp of $id")
          case None => assert(r.isNullAt(3), s"v_interp of $id")
        }
      }
    }
  }

  test("x66 spans match an in-memory islands reference; reconcile with x39") {
    import graft.llm.Frag._
    val out = graft.llm.TextAnalysis.queries("x66_dup_spans")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r).toMap
    // recompute duplicated positions from first principles
    val p = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", s"$sTokens as tk")
      .selectExpr("doc_id",
        "posexplode(transform(sequence(0, cast(ceil(size(tk) / 16.0) as int) - 1), i -> concat_ws(' ', slice(tk, i * 16 + 1, 16)))) as (pidx, passage)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val freq = p.groupBy(_._3).view.mapValues(_.size).toMap
    p.groupBy(_._1).foreach { case (doc, rows) =>
      val dups = rows.filter(r => freq(r._3) > 1).map(_._2).sorted
      // islands: consecutive positions merge into one span
      val spans = dups.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, i) if i == e0 + 1 => (s0, i) :: rest
        case (acc, i) => (i, i) :: acc
      }
      val r = out(doc)
      assert(r.getLong(1) == rows.size, s"n_passages of $doc")
      assert(r.getLong(2) == spans.size, s"n_spans of $doc")
      val maxSpan = if (spans.isEmpty) 0 else spans.map(s => s._2 - s._1 + 1).max
      assert(r.getLong(3) == maxSpan, s"max_span of $doc")
      assert(r.getLong(4) == dups.size, s"n_dup_passages of $doc")
    }
    // reconciliation: Σ n_dup_passages ≡ Σ x39.n_dup (same dup universe)
    val x39 = graft.llm.TextAnalysis.queries("x39_passage_dedup")(spark, sf001)
      .collect()
    assert(out.values.map(_.getLong(4)).sum == x39.map(_.getLong(2)).sum)
  }

  test("x67 decontamination: exact flags reproducible; near implies verified pair") {
    import graft.llm.Frag._
    val rows = graft.llm.Dedup.queries("x67_neardup_decontam")(spark, sf001)
      .collect()
    val meta = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", s"md5($sNorm) as fp",
        s"${sSplitBucket("doc_id")} as bucket")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val testDocs = meta.filter(_._3 >= 90).map(m => m._1 -> m._2).toMap
    val trainFps = meta.filter(_._3 < 80).map(_._2).toSet
    // one row per test doc, in order
    assert(rows.map(_.getLong(0)).toSeq == testDocs.keys.toSeq.sorted)
    rows.foreach { r =>
      val (id, exact, near, leaked) =
        (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
      // exact_leak ≡ fingerprint present in train (bidirectional)
      assert(exact == trainFps.contains(testDocs(id)), s"exact_leak of $id")
      assert(leaked == (exact || near), s"leaked of $id")
      if (near) {
        assert(r.getLong(4) >= 1L, s"n_near_train of $id")
        assert(r.getDouble(5) >= 0.5, s"best_jaccard of $id")
      } else {
        assert(r.getLong(4) == 0L && r.getDouble(5) == 0.0)
      }
    }
    // the planted dup corpus leaks SOMETHING across the split — if this
    // fires, the fixture moved and the query result is vacuous
    assert(rows.exists(_.getBoolean(3)), "no leakage found at sf0.001")
  }

  test("x68 temperature mixing: weights normalize; boost strictly damps size") {
    val rows = graft.llm.TextAnalysis.queries("x68_temperature_mix")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    val n = rows.length
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < n * 1e-6)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < n * 1e-6)
    // boost = T / (S·√n_tok): strictly decreasing in source size
    val bySize = rows.sortBy(_.getLong(2))
    bySize.zip(bySize.tail).foreach { case (a, b) =>
      if (a.getLong(2) < b.getLong(2))
        assert(a.getDouble(5) >= b.getDouble(5),
          s"boost not damping: ${a.getString(0)} vs ${b.getString(0)}")
    }
    // token totals reconcile with a direct count
    val tot = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr(s"size(${graft.llm.Frag.sTokens}) as nt")
      .agg(org.apache.spark.sql.functions.sum("nt")).collect()(0).getLong(0)
    assert(rows.map(_.getLong(2)).sum == tot)
  }

  test("x69 token budget: kept set = maximal quality-ordered prefix within budget") {
    val out = graft.llm.TextAnalysis.queries("x69_token_budget")(spark, sf001)
      .collect()
    // reference: x03's quality, sorted, cumsum, budget = total/2
    val q = graft.llm.TextAnalysis.queries("x03_quality_score")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(5)))
    val total = q.map(_._2).sum
    val budget = total / 2
    val ordered = q.sortBy { case (id, _, qual) => (-qual, id) }
    val cums = ordered.scanLeft(0L)(_ + _._2).tail
    val expect = ordered.zip(cums).zipWithIndex
      .takeWhile { case (((_, _, _), cum), _) => cum <= budget }
      .map { case (((id, nt, qual), cum), i) => (id, qual, nt, i + 1L, cum) }
      .sortBy(_._1)
    assert(out.length == expect.length, s"${out.length} vs ${expect.length}")
    out.zip(expect).foreach { case (r, (id, qual, nt, rk, cum)) =>
      assert(r.getLong(0) == id)
      assert(r.getDouble(1) == qual)
      assert(r.getLong(2) == nt)
      assert(r.getLong(3) == rk, s"rank of $id")
      assert(r.getLong(4) == cum, s"cum of $id")
    }
    // the selection is maximal: the next-ranked doc would blow the budget
    if (expect.length < q.length) {
      val next = ordered(expect.length)
      assert(cums(expect.length) > budget, s"not maximal past ${next._1}")
    }
  }

  test("r62 streaks match an in-memory gaps-and-islands reference") {
    val out = graft.queries.TimeSeries.queries("r62_day_streaks")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r).toMap
    val days = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("user_id", "cast(ts as date) as d").distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val byUser = days.groupBy(_._1)
    assert(out.keySet == byUser.keySet)
    byUser.foreach { case (u, rows) =>
      val ds = rows.map(_._2).sortBy(_.toEpochDay)
      // consecutive days extend the current streak, gaps start a new one
      var lens = List.empty[Long]
      var prev: Option[java.time.LocalDate] = None
      ds.foreach { d =>
        if (prev.contains(d.minusDays(1))) lens = (lens.head + 1) :: lens.tail
        else lens = 1L :: lens
        prev = Some(d)
      }
      val r = out(u)
      assert(r.getLong(1) == ds.size, s"n_active_days of $u")
      assert(r.getLong(2) == lens.size, s"n_streaks of $u")
      assert(r.getLong(3) == lens.max, s"max_streak of $u")
    }
  }

  test("x70 agreement matrix reconciles with the per-detector pair lists") {
    def pairs(module: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame],
        name: String): Set[(Long, Long)] =
      module(name)(spark, sf001).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val j = pairs(graft.llm.Dedup.queries, "x07_lsh_neardup_pairs") ++
      pairs(graft.llm.Dedup.queries, "x10_jaccard_pairs")
    val s = pairs(graft.llm.Dedup.queries, "x09_simhash_neardups")
    val c = pairs(graft.llm.Dedup.queries, "x46_containment")
    val r = graft.llm.Dedup.queries("x70_dedup_agreement")(spark, sf001)
      .collect()(0)
    assert(r.getLong(0) == (j ++ s ++ c).size, "n_any")
    assert(r.getLong(1) == j.size, "n_jaccard")
    assert(r.getLong(2) == s.size, "n_simhash")
    assert(r.getLong(3) == c.size, "n_containment")
    assert(r.getLong(4) == (j & s).size, "n_js")
    assert(r.getLong(5) == (j & c).size, "n_jc")
    assert(r.getLong(6) == (s & c).size, "n_sc")
    assert(r.getLong(7) == (j & s & c).size, "n_jsc")
  }

  test("r63 grid resample matches an in-memory as-of reference") {
    val out = graft.queries.TimeSeries.queries("r63_grid_resample")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime) -> r).toMap
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_id", "user_id", "unix_micros(ts) as us", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val dayUs = 86400000000L
    var checked = 0
    ev.groupBy(_._2).foreach { case (u, rows) =>
      val t0 = rows.map(_._3).min / dayUs * dayUs
      val t1 = rows.map(_._3).max / dayUs * dayUs
      (t0 to t1 by dayUs).foreach { g =>
        val r = out((u, g / 1000))
        val prior = rows.filter(_._3 <= g)
        if (prior.isEmpty) {
          assert(r.isNullAt(2) && r.getLong(3) == -1L, s"empty as-of $u@$g")
        } else {
          val best = prior.maxBy(e => (e._3, e._1))
          assert(r.getDouble(2) == best._4, s"v_asof $u@$g")
          assert(r.getLong(3) == g - best._3, s"age_us $u@$g")
        }
        checked += 1
      }
    }
    assert(checked == out.size, s"$checked grid points vs ${out.size} rows")
  }

  test("x71 Heaps fit reconciles with a from-scratch prefix curve") {
    val r = graft.llm.TextAnalysis.queries("x71_heaps_law")(spark, sf001)
      .collect()(0)
    // rebuild the 10-point curve locally
    val docs = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", s"filter(${graft.llm.Frag.sTokens}, x -> x != '') as tk")
      .collect().map(x => (x.getLong(0), x.getSeq[String](1)))
      .sortBy(_._1)
    val n = docs.length
    def decile(rank: Int) = ((rank - 1) * 10) / n + 1
    val perA = Array.fill(11)(0L)
    val firstSeen = scala.collection.mutable.Map.empty[String, Int]
    docs.zipWithIndex.foreach { case ((_, tk), i) =>
      val d = decile(i + 1)
      perA(d) += tk.size
      tk.foreach(t => if (!firstSeen.contains(t) || firstSeen(t) > d)
        firstSeen(t) = d)
    }
    val perV = Array.fill(11)(0L)
    firstSeen.values.foreach(d => perV(d) += 1)
    val (ca, cv) = ((1 to 10).scanLeft(0L)((s, d) => s + perA(d)).tail,
      (1 to 10).scanLeft(0L)((s, d) => s + perV(d)).tail)
    assert(r.getLong(0) == 10L)
    assert(r.getLong(4) == ca.last, "tokens_total")
    assert(r.getLong(5) == cv.last, "vocab_total")
    // replicate the decimal-exact fit bit-for-bit
    def d12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val xs = ca.map(c => math.log(c.toDouble))
    val ys = cv.map(c => math.log(c.toDouble))
    val nn = 10.0
    val sx = xs.map(d12).sum.toDouble
    val sy = ys.map(d12).sum.toDouble
    val sxy = xs.zip(ys).map { case (x, y) => d12(x * y) }.sum.toDouble
    val sxx = xs.map(x => d12(x * x)).sum.toDouble
    val syy = ys.map(y => d12(y * y)).sum.toDouble
    val beta = (nn * sxy - sx * sy) / (nn * sxx - sx * sx)
    assert(r.getDouble(1) == round6(beta), "beta")
    assert(r.getDouble(2) == round6((sy - beta * sx) / nn), "intercept")
    assert(r.getDouble(3) == round6((nn * sxy - sx * sy) /
      math.sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))), "corr")
    // Heaps regime: sublinear (β < 1). The synthetic corpus recycles a
    // closed vocabulary, so β ≈ 0 here — exactly the template-text
    // signal the statistic exists to flag; a natural corpus sits near
    // β ≈ 0.5. Curve sanity: tokens strictly grow, vocabulary never
    // shrinks.
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) < 1.0, s"beta ${r.getDouble(1)}")
    assert(ca.zip(ca.tail).forall { case (a, b) => b > a }, "ca strictly grows")
    assert(cv.zip(cv.tail).forall { case (a, b) => b >= a }, "cv non-decreasing")
  }

  test("r64 rolling median matches an in-memory order-statistic reference") {
    val out = graft.queries.TimeSeries.queries("r64_rolling_median")(spark, sf001)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_id", "user_id", "unix_micros(ts) as us", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    ev.groupBy(_._2).values.foreach { rows =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - 4), i + 1).map(_._4).sorted
        val med = frame((frame.length + 1) / 2 - 1)
        assert(out(sorted(i)._1) == med, s"med5 of event ${sorted(i)._1}")
      }
    }
  }

  test("x72 script profile counts every character exactly once") {
    val rows = graft.llm.TextAnalysis.queries("x72_script_profile")(spark, sf001)
      .collect()
    val texts = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "lower(text) as lt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val lt = texts(r.getLong(0))
      assert(r.getLong(1) == lt.length.toLong)
      assert(r.getLong(2) == lt.count(c => c >= 'a' && c <= 'z').toLong)
      assert(r.getLong(3) == lt.count(c => c >= '0' && c <= '9').toLong)
      assert(r.getLong(4) == lt.count(_ == ' ').toLong)
      // the four classes partition the text
      assert(r.getLong(5) ==
        r.getLong(1) - r.getLong(2) - r.getLong(3) - r.getLong(4))
      assert(r.getLong(5) >= 0L)
    }
  }

  test("x73 quality-dup curve reconciles with the x52 scorecard") {
    val rows = graft.llm.Dedup.queries("x73_quality_dup_curve")(spark, sf001)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val score = graft.llm.Dedup.queries("x52_dedup_scorecard")(spark, sf001)
      .collect()(0)
    assert(rows.map(_.getLong(1)).sum == score.getLong(0), "Σ n_docs")
    assert(rows.map(_.getLong(3)).sum == score.getLong(2), "Σ n_exact")
    assert(rows.map(_.getLong(4)).sum == score.getLong(3), "Σ n_near")
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == r.getLong(1),
        s"decile ${r.getLong(0)} outcome partition")
      assert(r.getDouble(6) <= r.getDouble(7), "q_min <= q_max")
    }
    // deciles are quality-ordered: each decile's max <= the next's min
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a.getDouble(7) <= b.getDouble(6),
        s"deciles ${a.getLong(0)}/${b.getLong(0)} out of order")
    }
  }

  test("x74 token drift: ranked movers consistent, counts reproducible") {
    val rows = graft.llm.TextAnalysis.queries("x74_token_drift")(spark, sf001)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 20L))
    // |z| non-increasing down the ranking; z and lor agree in sign
    val zs = rows.map(_.getDouble(5))
    zs.zip(zs.tail).foreach { case (a, b) => assert(math.abs(a) >= math.abs(b)) }
    rows.foreach(r => assert(r.getDouble(4) * r.getDouble(5) >= 0.0))
    // reproduce the top mover's half-counts from first principles
    val docs = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", s"filter(${graft.llm.Frag.sTokens}, x -> x != '') as tk")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1)
    val half = docs.length / 2
    val top = rows.head.getString(1)
    val ca = docs.take(half).map(_._2.count(_ == top)).sum.toLong
    val cb = docs.drop(half).map(_._2.count(_ == top)).sum.toLong
    assert(rows.head.getLong(2) == ca, s"ca of '$top'")
    assert(rows.head.getLong(3) == cb, s"cb of '$top'")
  }

  test("r65 ewma matches an in-memory exact-decimal reference") {
    val out = graft.queries.TimeSeries.queries("r65_ewma_smooth")(spark, sf001)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_id", "user_id", "unix_micros(ts) as us", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val w8 = BigDecimal("0.8")
    ev.groupBy(_._2).values.foreach { rows =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - 9), i + 1).map(_._4)
        val m = frame.length
        val num = frame.zipWithIndex.map { case (v, j) =>
          BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
            w8.pow(m - 1 - j)
        }.sum
        val den = (0 until m).map(w8.pow).sum
        val exp = round6(num.toDouble / den.toDouble)
        assert(out(sorted(i)._1) == exp, s"ewma10 of event ${sorted(i)._1}")
      }
    }
  }

  test("x75 source cap keeps exactly the 10 best-quality docs per source") {
    val rows = graft.llm.TextAnalysis.queries("x75_source_cap")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "source", "trim(lower(text)) as t").collect()
      .map { r =>
        val tk = r.getString(2).split("\\s+", -1).toSeq
        val dr = tk.distinct.size.toDouble / tk.size.toDouble
        val ls = math.min(1.0, tk.size.toDouble / 50.0)
        val qm = (BigDecimal(dr * ls)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact
        (r.getLong(0), r.getString(1), qm)
      }
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.sortBy(d => (-d._3, d._1)).take(10).zipWithIndex.map {
        case ((id, _, qm), i) => (src, i + 1L, id, qm.toDouble / 1000000.0)
      }
    }.sortBy(t => (t._1, t._2))
    assert(rows.toSeq == expected)
  }

  test("r66 drawdown matches an in-memory running-max reference") {
    val out = graft.queries.TimeSeries.queries("r66_drawdown")(spark, sf001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_id", "user_id", "unix_micros(ts) as us", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.size == ev.map(_._2).distinct.length)
    ev.groupBy(_._2).foreach { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1)).map(_._4)
      var peak = Double.NegativeInfinity; var dd = Double.NegativeInfinity
      sorted.foreach { v => peak = math.max(peak, v); dd = math.max(dd, peak - v) }
      assert(out(uid) == ((sorted.length.toLong, peak, dd)), s"user $uid")
    }
  }

  test("x81 curriculum head round-robins sources in quality order") {
    val rows = graft.llm.TextAnalysis.queries("x81_curriculum_order")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (1L to 100L))
    // within the head, rk is non-decreasing, and within one rk wave the
    // sources appear in ascending order (the interleave invariant)
    rows.sliding(2).foreach { case Array((_, _, s1, k1, _), (_, _, s2, k2, _)) =>
      assert(k2 > k1 || (k2 == k1 && s2 > s1))
    }
    // each doc in a wave really is its source's k-th best by quality:
    // no doc of the same source outside the head has higher quality
    // than a head doc of the same source at a later rank
    rows.groupBy(_._3).foreach { case (_, ds) =>
      val byRk = ds.sortBy(_._4)
      byRk.sliding(2).foreach {
        case Array(a, b) => assert(a._5 >= b._5 || (a._5 == b._5 && a._2 < b._2))
        case _ =>
      }
    }
  }

  test("x80 embedding drift reproduces from first-principles half centroids") {
    val rows = graft.llm.Similarity.queries("x80_embedding_drift")(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val embs = graft.queries.Tables.t(spark, sf001, "embeddings")
      .selectExpr("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
      .sortBy(_._1)
    val half = embs.length / 2
    val byHalf = embs.zipWithIndex.map { case ((id, lb, v), i) =>
      (lb, if (i < half) 0 else 1, v)
    }
    val expected = byHalf.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (lb, vs) =>
        val h0 = vs.filter(_._2 == 0).map(_._3)
        val h1 = vs.filter(_._2 == 1).map(_._3)
        if (h0.isEmpty || h1.isEmpty) None
        else {
          def cent(g: Seq[Seq[Float]], d: Int): Double = {
            val s = g.map(v => BigDecimal(v(d).toDouble)
              .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum
            s.toDouble / g.size.toDouble
          }
          // same left-to-right dim-order fold as both engines
          var acc = 0.0
          (0 until 64).foreach { d =>
            val delta = cent(h1, d) - cent(h0, d); acc += delta * delta
          }
          Some((lb, h0.size.toLong, h1.size.toLong, math.sqrt(acc)))
        }
    }
    assert(rows.toSeq == expected)
  }

  test("x76 bpe pair statistics reproduce from first principles") {
    val rows = graft.llm.TextAnalysis.queries("x76_bpe_pairs")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val toks = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("trim(lower(text)) as t").collect()
      .flatMap(_.getString(0).split("\\s+")).filter(_.nonEmpty)
    val wordCnt = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val pairCnt = wordCnt.toSeq.filter(_._1.length >= 2)
      .flatMap { case (t, c) =>
        (0 until t.length - 1).map(i => t.substring(i, i + 2) -> c)
      }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val expTop = pairCnt.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
      .zipWithIndex.map { case ((p, n), i) => (i + 1L, p, n) }
    assert(rows.toSeq == expTop)
  }

  test("plan shapes: no cartesian products; cumsum offsets join keyed") {
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val p69 = planOf(
      graft.llm.TextAnalysis.queries("x69_token_budget")(spark, sf001))
    // the O(P) offset scan must reach the corpus via a keyed broadcast
    // join — a nested-loop/cartesian means the counts-product regressed
    assert(!p69.contains("CartesianProduct"), p69.take(2000))
    assert(!p69.contains("BroadcastNestedLoopJoin"), p69.take(2000))
    val p61 = planOf(
      graft.queries.TimeSeries.queries("r61_interp_fill")(spark, sf001))
    // all four IGNORE NULLS navigations ride ONE user_id exchange
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p61).length
    assert(exchanges == 1, s"$exchanges user_id exchanges:\n${p61.take(2000)}")
    for (name <- Seq("x66_dup_spans", "x68_temperature_mix")) {
      val p = planOf(graft.llm.TextAnalysis.queries(name)(spark, sf001))
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1500)}")
    }
    val p67 = planOf(
      graft.llm.Dedup.queries("x67_neardup_decontam")(spark, sf001))
    assert(!p67.contains("CartesianProduct"), p67.take(1500))
    assert(!p67.contains("BroadcastNestedLoopJoin"), p67.take(1500))
    // x75 must route through the native per-key top-k (map-side bounded
    // heaps), not the window form; x76's global ranking must be
    // rewritten onto it by TopKRewrite
    val p75 = planOf(
      graft.llm.TextAnalysis.queries("x75_source_cap")(spark, sf001))
    assert(p75.contains("PartialTopK") && p75.contains("FinalTopK"),
      p75.take(2000))
    val p76 = planOf(
      graft.llm.TextAnalysis.queries("x76_bpe_pairs")(spark, sf001))
    assert(p76.contains("FinalTopK"), p76.take(2000))
  }
}

package graft

/** The store-slope audit's machinery pinned deterministically, plus a
  * live archive-growth measurement at spec-affordable scale. The
  * authoritative audit runs inside every full Bench invocation (seven
  * modalities, sf/10-archive vs bench-archive, same batch) and lands
  * in the bench artifact's `store_slope` section — this spec
  * guarantees the modality inventory and the judge cannot rot, and
  * that the family's claim (probe cost does not archive-scale) holds
  * over one real 10x archive decade where a spec can afford to
  * measure it.
  */
class StoreSlopeSpec extends SparkSpec {

  test("the modality inventory covers all eight persisted-store families") {
    assert(StoreSlope.modalities.map(_.name) ==
      Seq("minhash", "segment", "fingerprint", "substr", "emblsh",
        "selection", "search", "annshard"))
  }

  test("judge: flat passes, archive-tracking flags, the floor protects overhead-regime probes") {
    // flat probe: 10x archive, ~1.2x wall — passes
    assert(!StoreSlope.judge(1.0, 1.2)._2)
    // archive-rescanning probe: tracks the decade at ~10x — flagged
    assert(StoreSlope.judge(0.5, 5.0)._2)
    // the floor (0.30 since round 14 — the round-13 false flag drew
    // 4.77x on a 0.21 s denominator under end-of-bench load): a
    // small-archive probe in the overhead regime cannot flag anything
    // cheaper than MaxRatio x MinDenomSec at bench scale
    assert(!StoreSlope.judge(0.01, 0.85)._2)
    assert(StoreSlope.judge(0.01, 0.95)._2)
    // the round-13 artifact's exact draw (0.21 s -> 1.02 s, "4.77x")
    // no longer flags on its own: 1.02 / 0.30 = 3.4 still would — but
    // see the retry adjudication below, which re-draws it
    assert(StoreSlope.judge(0.21, 1.02)._1 < 4.0)
  }

  test("warn adjudication: a flag must survive a fresh re-draw; both draws land in the artifact") {
    def draw(probeWarn: Boolean, eraseWarn: Boolean) = StoreSlope.Result(
      "fingerprint", 0.21, if (probeWarn) 1.02 else 0.37,
      if (probeWarn) 4.77 else 1.21, probeWarn,
      Some(0.5), Some(0.6), Some(1.2), admitWarn = false,
      Some(0.3), Some(0.35), Some(1.17), eraseWarn = eraseWarn)
    // the round-13 case: loaded first draw flags, isolated-style
    // second draw is flat -> adjudicated CLEAN, both draws recorded
    val cleared = StoreSlope.adjudicate(draw(true, false), draw(false, false))
    assert(!cleared.warn && !cleared.admitWarn && !cleared.eraseWarn)
    assert(cleared.retried && cleared.first.exists(_.warn))
    assert(cleared.tBig == 0.37, "adjudication must keep the re-draw's walls")
    // a REAL archive-scaled term flags every draw -> warn survives
    val confirmed = StoreSlope.adjudicate(draw(true, false), draw(true, false))
    assert(confirmed.warn && confirmed.retried)
    // legs adjudicate independently: probe clears, erase confirms
    val mixed = StoreSlope.adjudicate(draw(true, true), draw(false, true))
    assert(!mixed.warn && mixed.eraseWarn)
  }

  test("live archive-growth bound: every store's probe stays ~flat across a real 10x archive decade") {
    // The spec-affordable slice of the real audit: archives at sf0.001
    // and sf0.01 (a true 10x decade), the SAME sf0.001 batch probed
    // against both. The bound is deliberately generous (2x the harness
    // bound) because at these tiny SFs session overhead dominates and
    // box contention is real — this is the archive-rescan tripwire;
    // the tight 3x bound runs in Bench where the stores are 100x
    // bigger. A probe that re-tokenized the archive would still blow
    // through 2x MaxRatio = 6x here only at Bench scale, so the spec
    // additionally asserts the ABSOLUTE small-scale walls stay in the
    // overhead regime (< 10 s) — a rescan term that big would show.
    StoreSlope.modalities.foreach { m =>
      val (tSmall, aSmall, eSmall) = StoreSlope.batchSeconds(spark, m,
        "/root/testdata/sf0.001", "/root/testdata/sf0.001")
      val (tBig, aBig, eBig) = StoreSlope.batchSeconds(spark, m,
        "/root/testdata/sf0.01", "/root/testdata/sf0.001")
      val (ratio, _) = StoreSlope.judge(tSmall, tBig)
      assert(ratio <= 2 * StoreSlope.MaxRatio,
        f"${m.name}: probe grew $ratio%.1fx across a 10x archive decade " +
          f"($tSmall%.2fs -> $tBig%.2fs, same batch) — archive-rescan " +
          "term suspected")
      assert(tBig < 10.0,
        f"${m.name}: probe wall $tBig%.1fs at sf0.01 archive is outside " +
          "the overhead regime for this scale")
      // the admit leg (probe + touched-bucket fold) must be just as
      // archive-flat — its merge rewrites batch-touched buckets only
      for (s <- aSmall; b <- aBig) {
        val (ar, _) = StoreSlope.judge(s, b)
        assert(ar <= 2 * StoreSlope.MaxRatio,
          f"${m.name}: admit grew $ar%.1fx across a 10x archive decade " +
            f"($s%.2fs -> $b%.2fs, same batch halves)")
        assert(b < 15.0,
          f"${m.name}: admit wall $b%.1fs at sf0.01 archive is outside " +
            "the overhead regime for this scale")
      }
      assert(m.admit.isDefined == (aSmall.isDefined && aBig.isDefined))
      // the erase leg (round-12 verdict: measure eraseMany's cost
      // model) — O(subjects + touched buckets), never O(store): the
      // subject set is FIXED across the decade, so the wall must not
      // track the archive either
      for (s <- eSmall; b <- eBig) {
        val (er, _) = StoreSlope.judge(s, b)
        assert(er <= 2 * StoreSlope.MaxRatio,
          f"${m.name}: erase grew $er%.1fx across a 10x archive decade " +
            f"($s%.2fs -> $b%.2fs, same subject halves)")
        assert(b < 15.0,
          f"${m.name}: erase wall $b%.1fs at sf0.01 archive is outside " +
            "the overhead regime for this scale")
      }
      // every modality ships an erase leg since round 13
      assert(m.erase.isDefined && eSmall.isDefined && eBig.isDefined,
        s"${m.name}: missing the erase leg")
    }
  }
}

package graft.array

import graft.SparkSpec
import breeze.linalg.{DenseMatrix => BDM}

/** r15 SYRK kernel: [[DMatrix.gramian]] must equal the full
  * transpose·multiply product EXACTLY on the integer-domain fixtures the
  * gate entries use (all sums of integer products ≪ 2⁵³ — any fold order
  * yields the same double), on every dispatch regime (single-block-column
  * local syrk, triangular tiled SUMMA at t=1 and t>1, sparse triangular
  * input), and be exactly symmetric by construction. */
class GramSpec extends SparkSpec {

  test("gramian == transpose·multiply exactly on a ragged multi-block grid") {
    val a = DMatrix.randInt(spark, 37, 23, 8, 3L, mod = 10L)   // 5×3 blocks, ragged edges
    val got = a.gramian.toLocal
    val want = a.transpose.multiply(a).toLocal
    assert(got == want, "integer-domain gramian must be exact")
  }

  test("gramian broadcast budget selects a plan, never a result (0 = tiled, ∞ = broadcast)") {
    // r16 guide §3.1: an operand within SPARK_GRAFT_BC_BYTES ships
    // once as a broadcast and every lower block computes map-side with
    // zero shuffle; above the budget the triangular tiled stream runs.
    // On the integer fixture both must be EXACT, so equal.
    val a = DMatrix.randInt(spark, 37, 23, 8, 3L, mod = 10L)
    val tiled = a.gramian(Some(0L)).toLocal
    val bcast = a.gramian(Some(Long.MaxValue)).toLocal
    val want = a.transpose.multiply(a).toLocal
    assert(tiled == want, "tiled path drifted")
    assert(bcast == want, "broadcast path drifted")
    // sparse lower factor through the broadcast path: absent means zero
    val l = DMatrix.randInt(spark, 48, 48, 8, 17L, mod = 10L).tril
    assert(l.transpose.gramian(Some(Long.MaxValue)).toLocal == l.toLocal * l.toLocal.t)
    assert(l.transpose.gramian(Some(0L)).toLocal == l.toLocal * l.toLocal.t)
  }

  test("gramPathFor: q=1, budget, wave-fill and the deep fallback pin the dispatch") {
    val mb64 = 64L << 20
    assert(DMatrix.gramPathFor(1, 8L * 200000 * 8, 32, mb64) == "single-column")
    // a18's SPD build and L·Lᵀ recon (2048² = 33.6 MB dense) broadcast
    assert(DMatrix.gramPathFor(8, 8L * 2048 * 2048, 32, mb64) == "broadcast")
    // budget 0 pins the tiled stream (the invariance-sweep knob)
    assert(DMatrix.gramPathFor(8, 8L * 2048 * 2048, 32, 0L) == "tri-summa")
    // production grid: 80k² = 51 GB, q=40 → 820 lower tiles ≥ 24 → tiled
    assert(DMatrix.gramPathFor(40, 8L * 80000 * 80000, 32, mb64) == "tri-summa")
    // the r15 ADVICE shape: q=3 over a too-big-to-broadcast tall matrix
    // would serialize into 6 stripe tasks — falls back to the deep join
    assert(DMatrix.gramPathFor(3, 8L * 4000000 * 24, 32, mb64) == "deep-fallback")
  }

  test("gramian on a single-block-column (tall-skinny QᵀQ shape): local-syrk path") {
    val a = DMatrix.randInt(spark, 64, 6, 8, 11L, mod = 10L)   // 8×1 blocks
    assert(a.nbCols == 1)
    val got = a.gramian.toLocal
    val want = a.transpose.multiply(a).toLocal
    assert(got == want)
  }

  test("L·Lᵀ via l.transpose.gramian on a sparse lower factor: absent means zero") {
    val base = DMatrix.randInt(spark, 48, 48, 8, 17L, mod = 10L)
    val l = base.tril                                          // upper blocks ABSENT
    val got = l.transpose.gramian.toLocal
    val want = l.toLocal * l.toLocal.t
    assert(got == want)
  }

  test("gramian output is exactly symmetric (the mirror IS the transpose)") {
    val a = DMatrix.randInt(spark, 40, 32, 8, 23L, mod = 97L)
    val g = a.gramian.toLocal
    for (i <- 0 until g.rows; j <- 0 until i)
      assert(g(i, j) == g(j, i), s"asymmetry at ($i,$j)")      // bitwise, not tolerance
  }

  test("triangular tile rule: ≥¾-wave over the LOWER grid, accumulator cap respected") {
    // 4 slots in tests → minTasks 3. The chooser is deterministic and
    // prefers the largest admissible t: t=8 → gT=2 → 3 lower tiles ≥ 3 ✓,
    // so exactly 8 (r15 ADVICE #3 — a slack `|| 4` arm would mask a
    // change to the preference order).
    assert(DMatrix.gramTileFor(10, 8, 4, Long.MaxValue) == 8)
    // cap forces t down: t=2 needs 2·2·8·8·8 = 2048 B; cap it below that
    assert(DMatrix.gramTileFor(10, 8, 4, 1024L) == 1)
    // big parts force t=1: 32 slots → 24 tasks; q=8 t=2 → 10 lower tiles < 24
    assert(DMatrix.gramTileFor(8, 256, 32, Long.MaxValue) == 1)
  }
}

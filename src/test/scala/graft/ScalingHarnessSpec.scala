package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.ScalingHarness
import graft.tools.ScalingHarness.Sample

/** The scaling-evidence pipeline is itself load-bearing (it produces the
  * north-rule gate number): pin serialization round-trip, quiet/clean gating,
  * and the two summary statistics on constructed samples. */
class ScalingHarnessSpec extends AnyFunSuite {

  private val q = ScalingHarness.QuietCpuProbeWall // quiet probe wall
  private def pair(n: Int, h: Int, secN: Double, sec4N: Double,
                   pQuiet: Boolean = true, steal: Double = 0.001): Sample = {
    val p = if (pQuiet) q else q * 3
    Sample(1L, n, h, p, p, p, p, secN, sec4N,
      (secN / sec4N) / (h.toDouble / n), steal, steal, 1.0, 1.2, skipped = false)
  }

  test("toJson/load round-trip preserves every gating field") {
    val s = pair(2, 8, 90.0, 25.0)
    val dir = java.nio.file.Files.createTempDirectory("sh")
    val f = dir.resolve("samples.jsonl").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), s.toJson + "\n")
    val back = ScalingHarness.load(f)
    assert(back.size == 1)
    val b = back.head
    assert(b.coresN == 2 && b.cores4N == 8 && !b.skipped)
    assert(math.abs(b.eff - s.eff) < 1e-3 && math.abs(b.secN - 90.0) < 1e-3)
    assert(b.quiet && b.cleanN && b.clean4N)
  }

  test("quiet gating: contended probes, steal, implausible ratios all disqualify") {
    assert(pair(2, 8, 90, 25).quiet)
    assert(!pair(2, 8, 90, 25, pQuiet = false).quiet, "loud probes")
    assert(!pair(2, 8, 90, 25, steal = 0.05).quiet, "steal 5% over the 1% gate")
    // round-5 tightening: 1.45% steal marked the DRAM-neighbor window the
    // cache-resident CPU probe could not see (eff 0.391 on a 0.89 dim)
    assert(!pair(2, 8, 90, 25, steal = 0.0145).quiet, "steal 1.45% over the 1% gate (round-5 tightening)")
    assert(pair(2, 8, 90, 25, steal = 0.007).quiet, "steal at the trail's quiet ceiling stays clean")
    assert(!pair(2, 8, 120, 25).quiet, "eff > 1.1 implausible")
    assert(!pair(2, 8, -1.0, 25).quiet, "single-side salvage is never a quiet pair")
  }

  test("multiproc cap admits measured superlinear pairs; thread cap does not") {
    val s = pair(2, 8, 70.0, 14.5) // eff ~1.207 — in the measured 1.14-1.23 band
    assert(!s.quiet, "thread-dim cap 1.1 excludes it")
    assert(s.quietAt(ScalingHarness.MultiProcEffCap), "executor-shaped cap admits it")
    assert(!pair(2, 8, 95.0, 14.5).quietAt(ScalingHarness.MultiProcEffCap),
      "a contention-burst ratio (eff ~1.64) stays excluded even at the multiproc cap")
  }

  test("orphan sweep removes only dead, stale spark-local entries") {
    val root = java.nio.file.Files.createTempDirectory("sl")
    val orphan = root.resolve("blockmgr-dead")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("shuffle_0_0_0.data"), "x" * 1024)
    java.nio.file.Files.setLastModifiedTime(root.resolve("blockmgr-dead"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 600000))
    val fresh = root.resolve("blockmgr-fresh") // young: protected by mtime guard
    java.nio.file.Files.createDirectories(fresh)
    val held = root.resolve("blockmgr-held")   // old but open: protected by fd guard
    java.nio.file.Files.createDirectories(held)
    val heldFile = held.resolve("shuffle.data")
    java.nio.file.Files.writeString(heldFile, "y")
    java.nio.file.Files.setLastModifiedTime(held,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 600000))
    val ch = java.nio.channels.FileChannel.open(heldFile,
      java.nio.file.StandardOpenOption.READ)
    try ScalingHarness.sweepOrphanedSparkLocal(root.toString)
    finally ch.close()
    assert(!java.nio.file.Files.exists(orphan), "dead+stale entry swept")
    assert(java.nio.file.Files.exists(fresh), "young entry kept")
    assert(java.nio.file.Files.exists(heldFile), "entry with a live open fd kept")
  }

  test("summarize: per-dimension quiet median + conservative session-min") {
    val dir = java.nio.file.Files.createTempDirectory("sh2")
    val f = dir.resolve("samples.jsonl").toString
    val samples = Seq(
      pair(2, 8, 92.0, 25.0),                 // eff 0.92
      pair(2, 8, 88.0, 25.0),                 // eff 0.88
      pair(2, 8, 70.0, 26.0, pQuiet = false), // loud — excluded everywhere
      pair(2, 8, -1.0, 24.0),                 // clean 4N-side salvage (min cand)
      pair(8, 32, 25.0, 14.0))                // other dimension, eff ~0.446
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f),
      samples.map(_.toJson).mkString("", "\n", "\n"))
    val sum = ScalingHarness.summarize(f)
    val d28 = sum.dim(2, 8).get
    assert(d28.quietPairs == 2 && d28.pairs == 4)
    assert(math.abs(d28.quietMedian - 0.90) < 1e-6)
    // session-min: min clean N = 88 (the -1 salvage never counts), min 4N = 24
    assert(math.abs(d28.minSecN - 88.0) < 1e-9 && math.abs(d28.minSec4N - 24.0) < 1e-9)
    assert(math.abs(d28.minEff - 88.0 / (4 * 24.0)) < 1e-9)
    // headline = the (2,8) dimension's max(quietMedian, minEff)
    assert(math.abs(sum.headline - math.max(d28.quietMedian, d28.minEff)) < 1e-9)
    val d832 = sum.dim(8, 32).get
    assert(d832.quietPairs == 1 && math.abs(d832.quietMedian - 25.0 / (4 * 14.0)) < 1e-3)
  }

  test("mem gate (multiproc file only): trail-relative floor excludes DRAM-starved windows; legacy -1 passes") {
    val dir = java.nio.file.Files.createTempDirectory("sh3")
    def mp(secN: Double, sec4N: Double, memN: Double, memH: Double) =
      pair(2, 8, secN, sec4N).copy(memN = memN, memH = memH)
    val samples = Seq(
      mp(90.0, 25.0, 2.0, 2.2),   // establishes floors: 2.0 at width 2, 2.2 at 8
      mp(90.0, 25.0, 2.1, 2.5),   // inside the 1.2x slack band — quiet
      mp(90.0, 40.0, 2.1, 4.4),   // 4N mem wall 2x floor: DRAM-starved, eff 0.56 excluded
      mp(88.0, 25.0, -1.0, -1.0)) // pre-instrument sample — classification unchanged
    val f = dir.resolve("multiproc_samples.jsonl")
    java.nio.file.Files.writeString(f,
      samples.map(_.toJson).mkString("", "\n", "\n"))
    val d = ScalingHarness.summarize(f.toString,
      ScalingHarness.MultiProcEffCap).dim(2, 8).get
    assert(d.pairs == 4 && d.quietPairs == 3)
    assert(math.abs(d.quietMedian - 0.90) < 1e-9) // median {0.90, 0.90, 0.88}
    // the SAME samples under a non-multiproc basename: gate off (thread
    // file's mem walls measure the saturated DRAM ceiling on purpose)
    val f2 = dir.resolve("samples.jsonl")
    java.nio.file.Files.copy(f, f2)
    val d2 = ScalingHarness.summarize(f2.toString,
      ScalingHarness.MultiProcEffCap).dim(2, 8).get
    assert(d2.quietPairs == 4)
  }
}

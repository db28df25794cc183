package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.jobs.{DecodeJob, VerifyJob}
import graft.model.Page
import graft.sources.WebtextGen

/** Scaling-efficiency benchmark (BASELINE.json north_rule: ">=0.8
  * throughput scaling efficiency from N to 4N executors").
  *
  * No real cluster exists in this sandbox, so the two cluster sizes are
  * evidenced as the SAME job on the SAME deterministic generated input at
  * local[N] and local[4N] cores, mirroring the reference's fixed-input
  * multi-node sweep (/root/reference/on_cluster.sh:20-36).
  * Efficiency = (T_N / T_4N) / 4 — 1.0 is perfect linear scaling.
  *
  * Two core pairs are measured:
  *  - primary  N=2 -> 4N=8:  both levels run in the uncontended region of
  *    the (virtualized, 32-core shared-socket) box, which is the honest
  *    stand-in for a real cluster where each added executor brings its own
  *    cores, memory bandwidth and disks;
  *  - secondary N=8 -> 4N=32: saturates the whole socket; a pure-CPU
  *    fixed-work calibration loop (hardwareCeiling) is measured in the
  *    same JVM and reported next to it, because on this box 32 concurrent
  *    threads run each thread ~25-30% slower than 8 do — a hardware
  *    property a multi-node cluster does not have.
  *
  * Protocol: generate once -> for each (round, level) run EncodeJob in a
  * fresh JIT-warmed JVM on a fresh output dir, with levels round-robined
  * across rounds so one host load spike cannot cover all of a level's
  * reps (the sandbox host gets external noisy neighbors) -> keep the
  * per-level best -> decode + round-trip verify. Results -> BENCH.md +
  * bench_scaling.json (picked up by graft.Bench for the per-round line).
  */
object ScalingBench {

  final case class LevelResult(cpus: Int, wallSec: Double, encodeSec: Double, gbps: Double)

  final case class ScalingResult(
      nDocs: Long,
      rawBytes: Long,
      encBytes: Long,
      flBaselineBytes: Long,
      levels: Seq[LevelResult],
      effPrimary: Double,   // local[2] -> local[8]
      effSecondary: Double, // local[8] -> local[32]
      hwCeiling: Double,    // pure-CPU (T8/T32)/4 on this box
      flOnly: LevelResult,  // reference-equivalent FL-only mode at local[32]
      flOnlyEncBytes: Long,
      decodeSec: Double,     // steady-state: best of 2 after a warm pass
      decodeGbps: Double,
      decodeColdSec: Double, // first pass in the fresh session (JIT cold)
      verifyOk: Boolean) {
    def ratio: Double = encBytes.toDouble / math.max(1L, rawBytes)
    def ratioVsFl: Double = encBytes.toDouble / math.max(1L, flBaselineBytes)
  }

  // one session recipe for generate/decode phases AND the measured child
  // levels — a config drift between them would measure under different
  // settings than the phases that produced the data
  private def session(cpus: Int, parts: Int): SparkSession =
    ScalingLevel.session(cpus, parts)

  /** Pure-CPU fixed-total-work calibration: (T_8 / T_32) / 4 for W
    * splitmix64 iterations split across k threads. Measures what the box
    * itself allows — the upper bound for any CPU-bound job's efficiency. */
  def hardwareCeiling(): Double = {
    def burn(threads: Int, totalIters: Long): Double = {
      val per = totalIters / threads
      val ts = (1 to threads).map { t =>
        new Thread(() => {
          var z = t.toLong
          var i = 0L
          while (i < per) {
            z += 0x9e3779b97f4a7c15L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            i += 1
          }
          if (z == 42L) println("") // keep the loop alive
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    val W = 12_000_000_000L
    burn(8, W / 100) // warm
    burn(32, W / 100)
    val t8 = (1 to 2).map(_ => burn(8, W)).min
    val t32 = (1 to 2).map(_ => burn(32, W)).min
    (t8 / t32) / 4.0
  }

  /** Run one parallelism level in a FRESH child JVM (same classpath and
    * JVM flags as this one) via [[ScalingLevel]]: isolates each level from
    * the others' heap aging and JIT profile pollution. The child gets
    * `-XX:ActiveProcessorCount=cpus` — local[N] alone only bounds Spark
    * task threads while GC/JIT/netty pools still size to the machine's 32
    * cores, which hands low-core levels free CPU a real N-core executor
    * does not have (and so understates scaling efficiency). Returns the
    * child's one-line JSON parsed into a LevelResult plus size fields. */
  private def runLevelIsolated(pagesPath: String, work: String, cpus: Int,
                               parts: Int, reps: Int,
                               mode: String = "auto"): (LevelResult, Long, Long, Long) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xrunjdwp") ||
        a.startsWith("-javaagent") || a.startsWith("-agentpath") ||
        a.startsWith("-XX:ActiveProcessorCount"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      s"-XX:ActiveProcessorCount=$cpus",
      "-cp", System.getProperty("java.class.path"),
      "graft.ScalingLevel", pagesPath, work, cpus.toString, parts.toString, reps.toString, mode)
    val pb = new ProcessBuilder(cmd: _*)
    // child stderr (Spark logs + [level] lines) flows straight through;
    // only the one-line stdout JSON is captured (avoids pipe deadlock)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val outLines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    val code = proc.waitFor()
    val json = outLines.lastOption.getOrElse("")
    require(code == 0 && json.startsWith("{"), s"level $cpus failed (exit $code): $json")
    def field(k: String): String =
      s""""$k":([0-9.E-]+)""".r.findFirstMatchIn(json).map(_.group(1))
        .getOrElse(throw new IllegalStateException(s"missing $k in $json"))
    (LevelResult(cpus, field("wallSec").toDouble, field("encodeSec").toDouble,
      field("gbps").toDouble),
      field("rawBytes").toLong, field("encBytes").toLong, field("flBaselineBytes").toLong)
  }

  def run(nDocs: Long, parts: Int, work: String, cpuLevels: Seq[Int] = Seq(2, 8, 32),
          reps: Int = 2): ScalingResult = {
    Files.createDirectories(Paths.get(work))
    val pagesPath = s"$work/pages_$nDocs.parquet"

    // -------- generate once (deterministic input shared by all levels).
    // Cache validity = the committer's _SUCCESS marker, not mere dir
    // existence: a run killed mid-write leaves a partial dir (maybe only
    // _temporary/) that every later run would otherwise trust forever —
    // either dying at schema inference or silently benchmarking a
    // truncated corpus.
    if (!Files.exists(Paths.get(s"$pagesPath/_SUCCESS"))) {
      ScalingLevel.rmrf(pagesPath)
      val s = session(32, parts)
      WebtextGen.pages(s, nDocs, partitions = 32).write.mode("overwrite").parquet(pagesPath)
      s.stop()
    }

    // -------- measured levels: fresh JVM per (round, level); the levels
    // (including the FL-only reference-equivalent run) are ROUND-ROBINED
    // across rounds so a host load spike (this shared box gets external
    // neighbors at loadavg 10+) cannot sit inside all of one level's
    // reps — back-to-back reps give correlated noise that best-of-N
    // cannot remove. Best per level across rounds is kept.
    // 2 and 8 are the published efficiency pairs: their absence would make
    // wall() return NaN, which flows into bench_scaling.json as the
    // literal NaN — invalid JSON that breaks every downstream consumer
    require(Seq(2, 8, 32).forall(cpuLevels.contains),
      s"cpuLevels must include 2, 8 and 32 (efficiency pairs + sizes/fl-only key off them), got $cpuLevels")
    val specs: Seq[(Int, String)] = cpuLevels.map(c => (c, "auto")) :+ ((32, "fl"))
    var best = Map.empty[(Int, String), (LevelResult, Long, Long, Long)]
    (1 to reps).foreach { round =>
      specs.foreach { case (cpus, mode) =>
        val r = runLevelIsolated(pagesPath, work, cpus, parts, reps = 1, mode)
        println(f"[scaling] round $round local[$cpus] $mode: wall ${r._1.wallSec}%.2f s, ${r._1.gbps}%.4f GB/s")
        val k = (cpus, mode)
        if (!best.contains(k) || r._1.wallSec < best(k)._1.wallSec) best += k -> r
      }
    }
    val lvl = cpuLevels.map(c => best((c, "auto"))._1)
    specs.foreach { case k @ (c, m) =>
      println(f"[scaling] local[$c] $m best: wall ${best(k)._1.wallSec}%.2f s, ${best(k)._1.gbps}%.4f GB/s")
    }
    val (_, rawB, encB, flB) = best((32, "auto"))
    def wall(c: Int): Double = lvl.find(_.cpus == c).map(_.wallSec).getOrElse(Double.NaN)
    val effPrimary = (wall(2) / wall(8)) / 4.0
    val effSecondary = (wall(8) / wall(32)) / 4.0

    // reference-equivalent FL-only mode: same pipeline, codec fixed to the
    // reference's FL bit-pack — the apples-to-apples throughput number
    // (the reference repo published none; this is the comparable we emit)
    val (flLvl, _, flEncB, _) = best((32, "fl"))

    println("[scaling] measuring pure-CPU hardware ceiling (8 vs 32 threads)...")
    val ceiling = hardwareCeiling()
    println(f"[scaling] hardware ceiling (T8/T32)/4 = $ceiling%.3f")

    // -------- decode throughput + round-trip verification at local[32].
    // The first pass in a fresh session is dominated by scan-path JIT and
    // session spin-up (round 2 reported THAT as the decode number — 9x
    // below steady state); report it as "cold" and time steady state as
    // best-of-2 after the warm pass, mirroring how encode levels warm up.
    val (decodeColdSec, decodeSec, decodeGbps, verifyOk) = locally {
      val s = session(32, parts)
      import s.implicits._
      val outDir = s"$work/enc_32"
      // a full decode into the noop sink: count() would be answered
      // from chunk metadata (the pushed COUNT(*)) and decode nothing
      def decode(): Unit =
        DecodeJob.run(s, outDir).write.format("noop").mode("overwrite").save()
      val tc = System.nanoTime()
      decode()
      val coldSec = (System.nanoTime() - tc) / 1e9
      val dSec = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        decode()
        (System.nanoTime() - t0) / 1e9
      }.min
      val source = s.read.parquet(pagesPath).as[Page]
      val report = VerifyJob.run(s, source, DecodeJob.run(s, outDir))
      s.stop()
      (coldSec, dSec, rawB / 1e9 / dSec, report.ok)
    }

    ScalingResult(nDocs, rawB, encB, flB,
      lvl, effPrimary, effSecondary, ceiling, flLvl, flEncB,
      decodeSec, decodeGbps, decodeColdSec, verifyOk)
  }

  def renderMarkdown(r: ScalingResult): String = {
    val sb = new StringBuilder
    sb.append("# BENCH — measured scaling + throughput (this sandbox)\n\n")
    sb.append("Protocol per BASELINE.md: same EncodeJob, same deterministic generated\n")
    sb.append("input (WebtextGen seed=42), N vs 4N cores standing in for N vs 4N\n")
    sb.append("executors (no real cluster in the sandbox). Each (round, level) runs in\n")
    sb.append("a fresh JIT-warmed JVM; levels are round-robined across rounds so one\n")
    sb.append("host load spike cannot cover a whole level's reps, and the per-level\n")
    sb.append("best is kept (the shared host has external noisy neighbors).\n\n")
    sb.append(f"- input: ${r.nDocs}%,d docs, ${r.rawBytes / 1e6}%.1f MB raw column bytes\n")
    sb.append(f"- compressed: ${r.encBytes / 1e6}%.1f MB, ratio ${r.ratio}%.4f of raw, ")
    sb.append(f"${r.ratioVsFl}%.4f of the reference-FL baseline (bound: <= 1.0)\n")
    sb.append(f"- decode (local[32]): ${r.decodeSec}%.2f s steady-state (best-of-2 after a\n")
    sb.append(f"  warm pass), ${r.decodeGbps}%.3f GB/s raw-equivalent; first cold pass in the\n")
    sb.append(f"  fresh session: ${r.decodeColdSec}%.2f s (scan-path JIT + session spin-up)\n")
    sb.append(f"- FL-only mode (reference-equivalent work, local[32]): ${r.flOnly.gbps}%.3f GB/s at ")
    sb.append(f"ratio ${r.flOnlyEncBytes.toDouble / math.max(1L, r.rawBytes)}%.4f; the full selector's output is ")
    sb.append(f"${(1 - r.encBytes.toDouble / math.max(1L, r.flOnlyEncBytes)) * 100}%.0f%% smaller")
    // compare against the local[32] level by KEY, not by position: run()
    // only validates that cpuLevels CONTAINS {2,8,32}, so levels.last may
    // be some other level under a reordered/extended cpuLevels — and the
    // FL-only run this line compares against is always local[32]
    val l32 = r.levels.find(_.cpus == 32).getOrElse(r.levels.last)
    if (l32.gbps >= r.flOnly.gbps)
      sb.append(" AND it is faster end-to-end (less to write on a write-bound pipeline)\n")
    else
      sb.append(f" at ${(1 - l32.gbps / r.flOnly.gbps) * 100}%.0f%% lower throughput\n")
    sb.append(s"- round-trip verify (byte-identical per url): ${if (r.verifyOk) "PASS" else "FAIL"}\n\n")
    sb.append("| level | cores | encode wall s | encode-phase s | GB/s (raw/wall) |\n")
    sb.append("|---|---|---|---|---|\n")
    r.levels.foreach { l =>
      sb.append(f"| local[${l.cpus}] | ${l.cpus} | ${l.wallSec}%.2f | ${l.encodeSec}%.2f | ${l.gbps}%.3f |\n")
    }
    sb.append(f"\n**Scaling efficiency N=2 -> 4N=8: ${r.effPrimary}%.3f** (target >= 0.8)\n\n")
    sb.append(f"Secondary, whole-socket pair N=8 -> 4N=32: ${r.effSecondary}%.3f; a pure-CPU\n")
    sb.append(f"fixed-work calibration in the same run measured a ceiling of ${r.hwCeiling}%.3f\n")
    sb.append("(this ceiling itself swings 0.74-0.98 across samples on this shared,\n")
    sb.append("virtualized socket). Past ~8 threads the job also contends on shared\n")
    sb.append("memory bandwidth and the single local disk for shuffle+output, so the\n")
    sb.append("whole-socket pair measures the box, not the job. On a real N -> 4N\n")
    sb.append("executor cluster every added executor brings its own cores, bandwidth\n")
    sb.append("and disks, which the 2 -> 8 pair (both levels uncontended) models\n")
    sb.append("faithfully.\n")
    sb.toString
  }

  def json(r: ScalingResult): String = {
    // machine-parsed JSON: numbers must be locale-ROOT (the f""
    // interpolator under a comma-decimal default locale prints 12,345 —
    // invalid JSON for every downstream consumer of bench_scaling.json)
    val n = JsonEscape.num _
    val levels = r.levels.map(l =>
      s"""{"cpus":${l.cpus},"wallSec":${n(l.wallSec, 3)},"gbps":${n(l.gbps, 4)}}""").mkString("[", ",", "]")
    // generation stamp + run id: the file is inlined into per-round bench
    // lines, so when it was measured must be visible, not implied
    val stamp = java.time.Instant.now().toString
    val runId = java.util.UUID.randomUUID().toString.take(8)
    s"""{"generatedAtIso":"$stamp","runId":"$runId","nDocs":${r.nDocs},"rawBytes":${r.rawBytes},"encBytes":${r.encBytes},"flBaselineBytes":${r.flBaselineBytes},"ratio":${n(r.ratio, 4)},"ratioVsFl":${n(r.ratioVsFl, 4)},"levels":$levels,"scalingEfficiency":${n(r.effPrimary, 3)},"scalingEfficiency8to32":${n(r.effSecondary, 3)},"hardwareCeiling8to32":${n(r.hwCeiling, 3)},"flOnlyGbps":${n(r.flOnly.gbps, 4)},"flOnlyRatio":${n(r.flOnlyEncBytes.toDouble / math.max(1L, r.rawBytes), 4)},"decodeGbps":${n(r.decodeGbps, 4)},"decodeColdSec":${n(r.decodeColdSec, 3)},"verifyOk":${r.verifyOk}}"""
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong)
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_DOCS").map(_.toLong)).getOrElse(3000000L)
    val parts = args.drop(1).headOption.map(_.toInt).getOrElse(128)
    val work = args.drop(2).headOption.getOrElse("/tmp/graft_scaling")
    val reps = args.drop(3).headOption.map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt)).getOrElse(3)
    val r = run(nDocs, parts, work, reps = reps)
    // ATOMIC publishes (temp + rename): a kill or disk-full mid-write
    // must never leave a truncated bench_scaling.json for graft.Bench to
    // inline (its balance gate would reject it, but a half-written file
    // should not exist at all) or a half-regenerated BENCH.md
    def writeAtomic(name: String, content: String): Unit = {
      val tmp = Paths.get(s"$name.tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, Paths.get(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeAtomic("BENCH.md", renderMarkdown(r))
    val out = json(r) // stamp once: file and stdout must carry the same runId
    writeAtomic("bench_scaling.json", out)
    println(out)
  }
}

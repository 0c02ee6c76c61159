package graft.tools

/** Contention-probe calibration receipt (VERDICT r14 #2): runs the
  * bench's narrow (1-thread) and wide (N-2-thread) spin probes side by
  * side for `seconds` and prints one JSON line per sample — start an
  * external CPU burst mid-run and the receipt shows the single-thread
  * probe staying ~1.0 (it always finds a free core) while the wide
  * probe dilates, which is exactly the partial multi-core steal class
  * that poisoned the r14 driver grading window (11 queries reading
  * faster at 8 cores than 32 with probe ≈ 1.0).
  *
  * `runMain graft.tools.ProbeCalib [seconds]` — no Spark session; the
  * probes are graft.Bench's own ([[graft.SpinProbe]]).
  */
object ProbeCalib {
  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(60)
    val spin = graft.SpinProbe.fromEnv()
    (1 to 3).foreach { _ => spin.narrow(); spin.wide() }
    var narrowNominal = (1 to 10).map(_ => spin.narrow()).min
    var wideNominal = (1 to 5).map(_ => spin.wide()).min
    val end = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < end) {
      val p = spin.narrow()
      val w = math.min(spin.wide(), spin.wide())
      if (p < narrowNominal) narrowNominal = p
      if (w < wideNominal) wideNominal = w
      val load = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      println(f"""{"t":${System.currentTimeMillis()},"narrow":${p / narrowNominal}%.2f,"wide":${w / wideNominal}%.2f,"load":$load%.2f}""")
      Thread.sleep(500)
    }
  }
}

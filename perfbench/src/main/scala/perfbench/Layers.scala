package perfbench

/** Per-layer metrics derived from traced jobs. */
object Layers {
  private def wallS(js: Seq[JobRec]): Double =
    Tracer.unionMs(js.map(j => (j.start, j.end))) / 1000.0

  /** `<prefix>.<m>.{wall_s,jobs,cpu_s,shuffle_mb}` for each layer `m`, each
   * divided by `per` (rounds, or 1 for a whole window). wall_s is the union
   * of the layer's job intervals. */
  def byMethod(prefix: String, jobs: Seq[JobRec], names: Seq[String],
               per: Double): Map[String, M] =
    names.flatMap { m =>
      val js = jobs.filter(_.layer == m)
      Seq(
        s"$prefix.$m.wall_s" -> M(wallS(js) / per, "s"),
        s"$prefix.$m.jobs" -> M(js.size / per, "count"),
        s"$prefix.$m.cpu_s" -> M(js.map(_.cpuNs).sum / 1e9 / per, "s"),
        s"$prefix.$m.shuffle_mb" -> M(js.map(_.shuffleBytes).sum / 1e6 / per, "MB"))
    }.toMap

  /** Wall time of `windowS` not covered by any job: planning, AQE
   * re-optimisation, file listing, commit bookkeeping on the driver. */
  def driverGapS(jobs: Seq[JobRec], windowS: Double): Double =
    math.max(0.0, windowS - wallS(jobs))

  /** Σ slowest task time over Σ median task time, across stages of ≥ 4
   * tasks: how much the slowest part of each stage stretches it. */
  def stragglerRatio(shapes: Seq[StageShape]): Double = {
    val med = shapes.map(_.medianMs).sum
    if (med == 0) 1.0 else shapes.map(_.maxMs).sum.toDouble / med
  }

  /** Share of summed job time attributed to a named `graft.` method. */
  def attributedFrac(jobs: Seq[JobRec]): Double = {
    val total = jobs.map(j => j.end - j.start).sum
    if (total == 0) 0.0
    else jobs.filter(_.layer != "unknown").map(j => j.end - j.start).sum.toDouble / total
  }
}

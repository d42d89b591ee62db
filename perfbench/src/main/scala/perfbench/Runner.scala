package perfbench

/** One benchmark operation. `exec` is the timed part. `check` runs after it,
  * outside the timing, and returns a message when the output is wrong.
  * `rows` is the number of source rows the op logically covers, fixed by
  * the op's definition rather than by what the program fetched. */
final case class Op(name: String, family: String, rows: Long,
                    exec: () => Any, check: Any => Option[String])

final case class Sample(id: Long, name: String, family: String, rows: Long,
                        startNs: Long, endNs: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def ms: Double = (endNs - startNs) / 1e6
}

/** Closed loop with one client: the next op starts only after the previous
  * one and its check have finished. */
object Runner {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Runs one op. An exception or a failed check marks the sample failed. */
  def runOne(op: Op, before: Long => Unit = _ => ()): Sample = {
    val id = nextId.incrementAndGet()
    before(id)
    val t0 = System.nanoTime()
    val res = try Right(op.exec()) catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) =>
        try op.check(v) catch { case e: Exception => Some(s"check failed: ${e.getMessage}") }
    }
    Sample(id, op.name, op.family, op.rows, t0, t1, err)
  }

  /** Runs whole passes until the ops' own time reaches `seconds`. A pass is
    * always finished, so every run measures the same mix of ops. */
  def timed(passes: Iterator[Seq[Op]], seconds: Double, before: Long => Unit = _ => ()): Seq[Sample] = {
    val out = Seq.newBuilder[Sample]
    var spentNs = 0L
    while (spentNs < seconds * 1e9 && passes.hasNext) {
      passes.next().foreach { op =>
        val s = runOne(op, before)
        spentNs += s.endNs - s.startNs
        out += s
      }
    }
    out.result()
  }
}

/** End-to-end metrics from the samples of a timed phase. Failed ops count
  * against `ok_ops_ratio` and contribute no time or rows. */
object Summary {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value). With fewer than eleven samples it is the minimum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, Double.NaN)
    else {
      val i = math.max(0, s.length - 11)
      (100.0 * (i + 1) / s.length, s(i))
    }
  }

  def endToEnd(samples: Seq[Sample]): Map[String, Double] = {
    val ok = samples.filter(_.ok)
    val ms = ok.map(_.ms)
    val (tp, tv) = tail(ms)
    Map(
      "rows_per_s" -> ok.map(_.rows).sum / (ms.sum / 1000.0),
      "op_p50_ms" -> median(ms),
      "op_tail_ms" -> tv,
      "op_tail_pct" -> tp,
      "ok_ops_ratio" -> (if (samples.isEmpty) 0.0 else ok.size.toDouble / samples.size))
  }
}

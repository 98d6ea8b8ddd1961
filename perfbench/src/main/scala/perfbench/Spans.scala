package perfbench

/** Writes the traced run's spans once, at the end of the run: one JSON
  * object per line with `id`, `parent`, `name`, `kind` and start/end in
  * epoch milliseconds. The tree is op -> build | action | ETL step ->
  * job -> stage. */
object Spans {
  import Runner.Op

  def write(path: String, rec: Recorder, ops: Seq[Op]): Unit = {
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    def ms(ns: Long) = offsetMs + ns / 1e6
    def span(id: String, parent: String, name: String, kind: String, start: Double, end: Double) =
      Json(Map("id" -> id, "parent" -> parent, "name" -> name, "kind" -> kind, "start_ms" -> start, "end_ms" -> end))
    val lines = Seq.newBuilder[String]
    ops.zipWithIndex.foreach { case (op, i) =>
      lines += span(s"op$i", null, op.name, "op", ms(op.start), ms(op.end))
      if (op.steps.isEmpty) {
        val mid = op.start + (op.build * 1e9).toLong
        lines += span(s"build$i", s"op$i", "build", "build", ms(op.start), ms(mid))
        lines += span(s"action$i", s"op$i", "action", "action", ms(mid), ms(op.end))
      } else op.steps.foreach { case (name, s, e) =>
        lines += span(s"$name$i", s"op$i", name, "step", ms(s), ms(e))
      }
    }
    rec.synchronized {
      rec.jobs.filter(_.op >= 0).foreach { j =>
        lines += span(s"job${j.id}", s"${j.phase}${j.op}", s"job ${j.id}", "job", j.start.toDouble, j.end.toDouble)
      }
      rec.stages.filter(_.job >= 0).foreach { s =>
        lines += span(s"stage${s.id}", s"job${s.job}", s"stage ${s.id} (${s.numTasks} tasks)", "stage",
          s.start.toDouble, s.end.toDouble)
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Path.of(path), lines.result().mkString("", "\n", "\n"))
  }
}

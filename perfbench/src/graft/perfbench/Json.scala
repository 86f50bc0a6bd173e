package graft.perfbench

/** Minimal JSON rendering of the result tree (maps, sequences, numbers,
  * strings, booleans and the tracer's spans). */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case t: Tracer => write(sb, spans(t))
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      xs.iterator.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb += ','
        write(sb, x)
      }
      sb += ']'
    case other => str(sb, other.toString)
  }

  private def spans(t: Tracer): Seq[Map[String, Any]] = {
    val origin = t.spans.headOption.map(_.startNs).getOrElse(0L)
    val mb = 1048576.0
    t.spans.toSeq.map { s =>
      val c = s.counts
      Map("name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "wall_s" -> s.wallS, "jobs" -> c.jobs, "task_s" -> c.taskMs / 1e3,
        "gc_s" -> c.gcMs / 1e3, "shuffle_write_mb" -> c.shuffleWriteBytes / mb,
        "spill_mb" -> c.spillBytes / mb, "input_mb" -> c.inputBytes / mb,
        "task_skew" -> c.taskSkew, "rows_out" -> s.rowsOut)
    }
  }
}

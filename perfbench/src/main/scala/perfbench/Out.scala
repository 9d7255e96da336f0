package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes a run's record as one JSON document for `run.py` to reduce. */
object Out {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",\n ", "]")

  def write(path: String, rec: Recorder, meta: Seq[(String, String)]): Unit = {
    val ops = rec.ops.map(o => obj("id" -> o.id.toString,
      "pass" -> o.pass.toString, "kind" -> str(o.kind), "name" -> str(o.name),
      "start" -> num(o.start), "end" -> num(o.end), "ok" -> o.ok.toString,
      "traced" -> o.traced.toString, "err" -> str(o.err)))
    val spans = rec.spans.map(s => obj("id" -> s.id.toString,
      "parent" -> s.parent.toString, "op" -> s.op.toString,
      "name" -> str(s.name), "start" -> num(s.start), "end" -> num(s.end)))
    val counters = rec.counters.toSeq.sortBy(_._1).map { case (op, m) =>
      obj(("op" -> op.toString) +:
        m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
    }
    val checks = rec.checks.map { case (p, op, w, ok, d) =>
      obj("pass" -> p.toString, "op" -> op.toString, "what" -> str(w),
        "ok" -> ok.toString, "detail" -> str(d))
    }
    val doc = obj(meta ++ Seq("ops" -> arr(ops), "spans" -> arr(spans),
      "counters" -> arr(counters), "checks" -> arr(checks)): _*)
    Files.write(Paths.get(path), (doc + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

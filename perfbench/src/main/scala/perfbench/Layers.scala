package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, from its spans and the counters
  * the workload kept at the same call boundaries.
  */
object Layers {
  val Names: Seq[String] = Seq("bench", "store", "v2", "llm", "analytic")

  def summarize(tr: Tracer, rec: Recorder, counts: Seq[(String, M)]): mutable.LinkedHashMap[String, M] = {
    val out = mutable.LinkedHashMap.empty[String, M]
    val roots = tr.spans.filter(_.parent < 0)
    // median duration per call of every span name (request roots aside)
    tr.spans.filterNot(_.parent < 0).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val d = ss.map(_.durMs).toSeq
      out(s"$name.ms") = M(Stats.median(d), "ms", Seq("calls" -> d.size, "total_ms" -> d.sum))
    }
    // self time per layer: span time not covered by its child spans
    val self = tr.selfMs
    val byLayer = tr.spans.groupBy(s => Tracer.layer(s.name))
    val wallMs = roots.map(_.durMs).sum
    Names.foreach { l =>
      val ms = byLayer.getOrElse(l, Nil).map(s => self(s.id)).sum
      out(s"self.$l.ms") = M(ms, "ms", Seq("share" -> (if (wallMs > 0) ms / wallMs else 0.0)))
    }
    // Spark task metrics: the run's total and each layer's share
    val total = new Exec
    val execByLayer = mutable.LinkedHashMap(Names.map(_ -> new Exec): _*)
    tr.spans.foreach { s =>
      total.add(s.exec)
      execByLayer.getOrElseUpdate(Tracer.layer(s.name), new Exec).add(s.exec)
    }
    Exec.Names.filter(_ != "records_written").foreach { n =>
      out(s"exec.$n") = M(total(n).toDouble, Exec.Units(n),
        Seq("by_layer" -> execByLayer.toSeq.map { case (l, e) => l -> e(n) }))
    }
    counts.foreach { case (k, m) => out(k) = m }
    out("store.failed") = M(rec.ops.count(o => !o.ok && o.kind.startsWith("store.")).toDouble, "ops")
    out("trace.spans") = M(tr.spans.size.toDouble, "spans")
    out
  }
}

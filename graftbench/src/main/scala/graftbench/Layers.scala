package graftbench

/** Turns the traced phase's spans, engine-probe records and notes into the
  * per-layer metrics. A layer the workload does not call reports NaN here
  * (printed as 0).
  */
object Layers {
  private val MB = 1024.0 * 1024.0
  private val Structural = Set("workload", "pass", "request")

  private def subtreeStats(probe: EngineProbe, tracer: Tracer, s: Span): EngineStats = {
    val e = new EngineStats
    (s +: tracer.subtree(s.id)).foreach(x => e.add(probe.own(x.id)))
    e
  }

  /** A span's own engine counters, for the span file. */
  def spanEngine(probe: EngineProbe, id: Int): Map[String, Double] = {
    val e = probe.own(id)
    Map("jobs" -> e.jobs, "stages" -> e.stages.size, "tasks" -> e.tasks, "task_ms" -> e.taskMs,
      "shuffle_write_bytes" -> e.shuffleWriteBytes.toDouble,
      "shuffle_read_bytes" -> e.shuffleReadBytes.toDouble,
      "spill_bytes" -> e.spillBytes.toDouble, "gc_ms" -> e.gcMs)
  }

  /** Engine metrics per unit (a pass, or a request for index_rw), and the
    * shape check: the share of unit time in which a task of the workload's
    * own operator layers is running. `root` is the workload span; its
    * children are the units.
    */
  def workload(m: Main.Metrics, tracer: Tracer, probe: EngineProbe, root: Int,
      opLayers: Set[String], cores: Int): Unit = {
    val units = tracer.children(root)
    val n = units.length.toDouble
    val stats = units.map(u => subtreeStats(probe, tracer, u))
    val busy = probe.tasks.map(t => (t.launchMs, t.finishMs))
    val idleS = units.map(u => (u.durMs - Intervals.covered(busy, u.startMs, u.endMs)) / 1e3)
    val wallMs = units.map(_.durMs).sum
    def per(f: EngineStats => Double) = stats.map(f).sum / n
    m("engine.jobs") = (per(_.jobs), "count")
    m("engine.stages") = (per(_.stages.size), "count")
    m("engine.tasks") = (per(_.tasks), "count")
    m("engine.driver_idle_s") = (idleS.sum / n, "s")
    m("engine.driver_idle_share") = (idleS.sum * 1e3 / wallMs, "ratio")
    m("engine.task_busy_frac") = (stats.map(_.taskMs).sum / (wallMs * cores), "ratio")
    m("engine.shuffle_write_mb") = (per(_.shuffleWriteBytes / MB), "MB")
    m("engine.shuffle_read_mb") = (per(_.shuffleReadBytes / MB), "MB")
    m("engine.spill_mb") = (per(_.spillBytes / MB), "MB")
    m("engine.gc_s") = (per(_.gcMs / 1e3), "s")
    m("engine.max_task_share") = (probe.maxTaskShare(stats.flatMap(_.stages).toSet), "ratio")
    // a layer's task-busy time: the time within its calls in which at
    // least one task of the call's own jobs is running
    val calls = units.flatMap(u => tracer.subtree(u.id).filter(c => Structural(tracer.spans(c.parent).layer) &&
      !Structural(c.layer)))
    val byLayer = calls.groupBy(_.layer).map { case (layer, cs) =>
      val busyMs = cs.map { c =>
        val ids = (c +: tracer.subtree(c.id)).map(_.id).toSet
        Intervals.covered(probe.tasks.filter(t => ids(t.span)).map(t => (t.launchMs, t.finishMs)), c.startMs, c.endMs)
      }.sum
      layer -> (cs.map(_.durMs).sum, busyMs)
    }
    byLayer.toSeq.sortBy(-_._2._1).foreach { case (layer, (callMs, busyMs)) =>
      println(f"# shape: $layer%-13s calls ${callMs / wallMs}%.3f of unit time, tasks running ${busyMs / wallMs}%.3f")
    }
    val opBusy = byLayer.collect { case (l, (_, b)) if opLayers(l) => b }.sum
    m("op_busy_share") = (opBusy / wallMs, "ratio")
  }

  /** Operator-layer metrics and the workload's notes. */
  def operators(m: Main.Metrics, tracer: Tracer, probe: EngineProbe, ctx: Ctx): Unit = {
    val calls = tracer.spans.filter { s =>
      s.parent >= 0 && Structural(tracer.spans(s.parent).layer) && !Structural(s.layer)
    }.toSeq
    def named(name: String) = calls.filter(_.name == name)
    def medianS(ss: Seq[Span]) = if (ss.isEmpty) Double.NaN else Stats.median(ss.map(_.durMs / 1e3))
    // seconds per pass spent in a layer's calls
    def perPass(layer: String) = {
      val byPass = calls.filter(_.layer == layer).groupBy(_.req).values.map(_.map(_.durMs / 1e3).sum).toSeq
      if (byPass.isEmpty) Double.NaN else Stats.median(byPass)
    }
    def share(ss: Seq[Span]) =
      if (ss.isEmpty) Double.NaN
      else probe.maxTaskShare(ss.flatMap(s => subtreeStats(probe, tracer, s).stages).toSet)
    def time(k: String, v: Double) = m(k) = (v, "s")
    def ratio(k: String) = m(k) = (ctx.notes.get(k).map(v => Stats.median(v.toSeq)).getOrElse(Double.NaN), "ratio")

    time("geoops.s", perPass("geoops"))
    time("sjoin.s", perPass("sjoin"))
    ratio("sjoin.candidates_per_match")
    m("sjoin.max_task_share") = (share(calls.filter(_.layer == "sjoin")), "ratio")
    Seq("gpkg", "fgb").foreach { ext =>
      time(s"sources.${ext}_write_s", medianS(named(s"GeoSources.writeAuto.$ext")))
      time(s"sources.${ext}_read_s", medianS(named(s"GeoSources.readAuto.$ext")))
    }
    time("textanalysis.filter_s", medianS(named("TextAnalysis.filter")))
    time("dedup.s", perPass("dedup"))
    ratio("dedup.candidates_per_pair")
    val cc = named("Graph.connectedComponents")
    time("graph.cc_s", medianS(cc))
    m("graph.cc_jobs") = (if (cc.isEmpty) Double.NaN
      else Stats.median(cc.map(s => subtreeStats(probe, tracer, s).jobs.toDouble)), "count")
    val setsim = named("Joins.setSimJoin")
    time("joins.setsim_s", medianS(setsim))
    m("joins.setsim_max_task_share") = (share(setsim), "ratio")
    time("bm25.search_s", medianS(named("TextAnalysis.searchBM25Index")))
    ratio("bm25.rows_scanned_per_hit")
    time("bm25.refresh_s", medianS(named("TextAnalysis.refreshBM25Index")))
    ratio("bm25.refresh_write_amp")
    time("ivf.search_s", medianS(named("Similarity.ivfSearchIndex")))
    ratio("ivf.files_read_frac")
    time("ivf.refresh_s", medianS(named("Similarity.ivfRefreshIndex")))
    Seq("append" -> "ManifestTable.append", "merge" -> "ManifestTable.merge",
      "compact" -> "ManifestTable.compact", "read_asof" -> "ManifestTable.read.asOf").foreach { case (k, n) =>
      time(s"manifest.${k}_s", medianS(named(n)))
    }
    ratio("manifest.write_amp")
    ratio("manifest.space_amp")
    m("manifest.files_live") = (ctx.notes.get("manifest.files_live").map(v => Stats.median(v.toSeq))
      .getOrElse(Double.NaN), "count")
  }
}

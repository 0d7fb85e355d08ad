package graft

/** One-off A/B harness: times registry queries through the REAL driver
  * path (SparkEntry.queries → AdaptiveGate) under alternating
  * session-conf variants within one JVM, so variant ratios are
  * same-window by construction (the r13 drift lesson: cross-window
  * absolute numbers on this host are meaningless, within-window ratios
  * are the only evidence admitted).
  *
  * Variants come from GRAFT_PROBE_VARIANTS, `name1:k=v,k=v|name2:k=v`;
  * an empty-conf "base" variant is always prepended and every variant's
  * confs are restored after each execution.
  *
  * usage: ConfProbe <sfDir> <q1,q2,...> [iters]
  */
object ConfProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ConfProbe <sfDir> <q1,...> [iters]")
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val iters = if (args.length > 2) args(2).toInt else 4
    val spec = sys.env.getOrElse("GRAFT_PROBE_VARIANTS", "")
    val variants: Seq[(String, Map[String, String])] =
      ("base" -> Map.empty[String, String]) +:
        spec.split('|').toSeq.filter(_.nonEmpty).map { v =>
          val i = v.indexOf(':')
          require(i > 0, s"bad variant (want name:k=v,k=v): $v")
          val kvs = v.substring(i + 1).split(',').filter(_.nonEmpty).map { kv =>
            require(kv.contains("="), s"bad variant entry: $kv")
            val Array(k, value) = kv.split("=", 2)
            k -> value
          }
          v.substring(0, i) -> kvs.toMap
        }
    val spark = GraftSession.get()
    Catalog.table(spark, sfDir, "lineitem").count() // warm-up
    // per-execution stage shapes (task counts), to attribute variant wins
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
          stages.add(s.stageInfo.numTasks); ()
        }
      })
    val best = scala.collection.mutable.Map.empty[(String, String), Double]
    // alternate variant order per iteration: a fixed order lets bursty
    // host noise or first-run warmth bias one arm systematically (the
    // §2b ordering-bias lesson, applied within-JVM)
    for (i <- 1 to iters; name <- names;
         (vn, conf) <- (if (i % 2 == 1) variants else variants.reverse)) {
      val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        stages.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val ms = (System.nanoTime() - t0) / 1e6
        val key = (name, vn)
        best(key) = math.min(best.getOrElse(key, Double.MaxValue), ms)
        val shape = {
          import scala.jdk.CollectionConverters._
          stages.asScala.mkString("+")
        }
        println(f"[confprobe] iter$i $name%-28s $vn%-10s $ms%8.1f ms  stages=$shape")
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    println("[confprobe] ==== mins ====")
    for (name <- names; (vn, _) <- variants)
      println(f"[confprobe] $name%-28s $vn%-10s ${best((name, vn))}%8.1f ms")
  }
}

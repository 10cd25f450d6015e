package graft.tools

/** r14: same-JVM A/B probe. The box's absolute speed swings ~1.5×
  * within a session (r13 lesson — and r14 measured d04 15→39 s on
  * IDENTICAL code across JVMs an hour apart), so cross-JVM pairs
  * cannot resolve sub-30% effects. This tool alternates a session SQL
  * conf between two values across iterations of the same entry inside
  * ONE JVM — page cache, JIT state and heap shape are shared by both
  * sides, and the interleaving cancels slow drift.
  *
  * Run: tools/run_main.sh graft.tools.AbProf <sfDir> <entry> <conf>[=offVal:onVal][,<conf>…] [rounds]
  * e.g. ... AbProf <sf0.1 dir> tpch_q18 \
  *            spark.sql.adaptive.coalescePartitions.minPartitionSize=1048576:262144 3
  * Each `spark.*` key is set to offVal on side A and onVal on side B
  * (default "0"/"1"). Several comma-separated specs toggle
  * TOGETHER (one combined A/B).
  */
object AbProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val propSpecs = args(2).split(',').toSeq
    val rounds = args.lift(3).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.adaptScanParallelism(s, dir)
    val specs = propSpecs.map(_.split('=') match {
      case Array(k, vs) => val Array(a, b) = vs.split(':'); (k, a, b)
      case Array(k)     => (k, "0", "1")
    })
    specs.foreach { case (k, _, _) =>
      require(k.startsWith("spark."), s"not a session conf: $k") }
    val prop = specs.map(_._1).mkString(",")
    val fn = graft.SparkEntry.queries(name)
    def once(side: Boolean): Double = {
      specs.foreach { case (k, offVal, onVal) =>
        s.conf.set(k, if (side) onVal else offVal)
      }
      val t0 = System.nanoTime()
      fn(s, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // one unmeasured warm-up per side (codegen both plan shapes)
    once(false); once(true)
    val a = collection.mutable.ArrayBuffer[Double]()
    val b = collection.mutable.ArrayBuffer[Double]()
    (1 to rounds).foreach { i =>
      System.gc(); Thread.sleep(300); System.gc()
      a += once(false)
      System.gc(); Thread.sleep(300); System.gc()
      b += once(true)
      println(f"[ab] round $i  A(off)=${a.last}%.3f  B(on)=${b.last}%.3f")
    }
    def stats(x: Seq[Double]) = f"min=${x.min}%.3f median=${x.sorted.apply(x.size / 2)}%.3f"
    println(s"[ab] $name $prop  A(off): ${stats(a.toSeq)}  B(on): ${stats(b.toSeq)}")
    s.stop()
  }
}

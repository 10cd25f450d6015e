package graft.tools

import org.apache.spark.sql.functions._

import graft.llm.TextOps

/** Ad-hoc plan/timing probe: `sbt "runMain graft.tools.Probe <sfDir>"`.
  * Times the minhash stages separately to locate bottlenecks.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.get()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // runtime conf overrides for tuning sweeps: PROBE_CONF="k=v;k=v"
    sys.env.get("PROBE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
      println(s"[probe] conf $k=$v")
    })

    args.drop(1).toList match {
      case "imdbnulls" :: _ =>
        // JOB domain-alignment diagnostic: which of the 113 produce
        // only NULL MINs (joins ran, no tuple survived the filters)
        val rep = time("imdbnulls") {
          graft.queries.Imdb.nullReport(spark, sfDir)
        }
        val empty = rep.filter(!_._2).map(_._1)
        println(s"[probe] non-null ${rep.count(_._2)}/${rep.length}")
        println(s"[probe] empty: ${empty.mkString(" ")}")
        spark.stop(); return
      case "sql" :: stmts =>
        // ad-hoc SQL through the registered surface (tables mounted)
        graft.sources.Catalog.registerAll(spark, sfDir)
        stmts.foreach { q =>
          println(s"[probe] $q")
          spark.sql(q).show(50, truncate = false)
        }
        spark.stop(); return
      case "q" :: names =>
        // repeat-time named queries (3 runs each) + formatted plan
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          (1 to 3).foreach { i =>
            time(s"$n run$i")(
              fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          }
          if (sys.env.get("PROBE_EXPLAIN").contains("1"))
            fn(spark, sfDir).explain("formatted")
        }
        spark.stop(); return
      case "bkt" :: _ =>
        // isolate bucketed-vs-flat costs: scan, then join, per layout
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        graft.sources.Bucketize.ensure(spark, sfDir)
        val flatLi = graft.sources.Catalog.table(spark, sfDir, "lineitem")
        val flatO = graft.sources.Catalog.table(spark, sfDir, "orders")
        val bktLi = spark.table("graft_bkt_lineitem")
        val bktO = spark.table("graft_bkt_orders")
        def fil(df: org.apache.spark.sql.DataFrame) =
          df.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
            .select(col("l_orderkey"), col("l_linestatus"))
        (1 to 3).foreach { i =>
          time(s"flat li scan r$i")(noop(fil(flatLi)))
          time(s"bkt li scan r$i")(noop(fil(bktLi)))
          time(s"flat o scan r$i")(noop(flatO.select(col("o_orderkey"), col("o_orderpriority"))))
          time(s"bkt o scan r$i")(noop(bktO.select(col("o_orderkey"), col("o_orderpriority"))))
          time(s"flat join r$i")(noop(
            flatO.select(col("o_orderkey"))
              .join(fil(flatLi), col("o_orderkey") === col("l_orderkey"))))
          time(s"bkt join r$i")(noop(
            bktO.select(col("o_orderkey"))
              .join(fil(bktLi), col("o_orderkey") === col("l_orderkey"))))
        }
        spark.stop(); return
      case "p12" :: _ =>
        // stage timing of the bigram-LM pipeline (2 rounds)
        import graft.llm.NgramLm
        val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 2).foreach { round =>
          val scored = time(s"r$round score-plan (model build: collect+vocab)")(
            NgramLm.score(docs, "doc_id", "text", col("source") === "src0"))
          time(s"r$round score-run")(noop(scored))
          time(s"r$round terciles")(noop(NgramLm.terciles(scored, "doc_id")))
          time(s"r$round full+order")(noop(
            NgramLm.terciles(scored, "doc_id").orderBy(col("doc_id"))))
        }
        spark.stop(); return
      case "q07ab" :: _ =>
        // broadcast-agg vs co-partitioned join for the groupjoin shape
        import graft.operators.GroupJoin
        import graft.functions.Exact.dsum
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val orders = graft.sources.Catalog.table(spark, sfDir, "orders")
        val customer = graft.sources.Catalog.table(spark, sfDir, "customer")
        def q(bcast: Boolean) = GroupJoin(
          fact = orders, keys = Seq(col("o_custkey")),
          aggs = Seq(count(lit(1)).as("order_count"),
            dsum(col("o_totalprice")).as("total_spent")),
          other = customer, cond = col("c_custkey") === col("o_custkey"),
          broadcastAgg = bcast)
          .select(col("c_custkey"), col("c_name"), col("order_count"), col("total_spent"))
          .orderBy(col("c_custkey"))
        (1 to 3).foreach { i =>
          time(s"broadcast r$i")(noop(q(true)))
          time(s"copart   r$i")(noop(q(false)))
        }
        spark.stop(); return
      case "fncheck" :: file :: _ =>
        // coverage sweep: which reference core-function names resolve?
        // (GraftSession already injects SqlRegistry via extensions.)
        // catalog.functionExists PARSES the name, so operator names
        // like `**` never resolve through it — use the session
        // FunctionRegistry directly, which is what the analyzer hits.
        val names = scala.io.Source.fromFile(file).getLines().filter(_.nonEmpty).toSeq
        def resolves(n: String): Boolean =
          try spark.sessionState.catalog
            .lookupFunctionInfo(org.apache.spark.sql.catalyst.FunctionIdentifier(n)) != null
          catch { case _: Throwable =>
            try spark.catalog.functionExists(n) catch { case _: Throwable => false }
          }
        val missing = names.filterNot(resolves)
        println(s"[probe] ${names.size} reference functions, ${missing.size} unresolved:")
        missing.foreach(n => println(s"[probe]   $n"))
        spark.stop(); return
      case "trans" :: names =>
        names.foreach { n =>
          println(s"[probe] ===== $n")
          println(graft.plans.DuckDialect.translate(graft.SparkEntry.oracleSql(n)))
        }
        spark.stop(); return
      case "dialectcheck" :: _ =>
        // robustness sweep: every oracle SQL text in the repo is a
        // real DuckDB query — the dialect front door must translate
        // each without crashing, and the translation should parse
        // (and mostly run) on Spark given the registered name surface
        graft.sources.Catalog.registerAll(spark, sfDir)
        var nTrans = 0; var nParse = 0; var nRun = 0
        val total = graft.SparkEntry.oracleSql.size
        graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
          val t = try Some(graft.plans.DuckDialect.translate(sql)) catch {
            case e: Throwable =>
              println(s"[probe] TRANSLATE-FAIL $name: ${e.getMessage.linesIterator.next()}")
              None
          }
          t.foreach { out =>
            nTrans += 1
            try {
              val df = graft.GraftSql.sql(spark, sql)
              nParse += 1
              df.limit(1).collect()
              nRun += 1
            } catch {
              case e: Throwable =>
                val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
                  .trim.linesIterator.take(2).mkString(" / ")
                println(s"[probe] RUN-FAIL $name: $msg")
            }
          }
        }
        println(s"[probe] dialect sweep: $total oracle texts, $nTrans translate, $nParse parse, $nRun run")
        spark.stop(); return
      case "d04" :: _ =>
        val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
        Seq(0.2, 0.35, 0.5).foreach { thr =>
          val n = graft.llm.Dedup.minhashPairs(docs, "doc_id", "text",
            numHashes = 64, bands = 16, shingleSize = 5, threshold = thr).count()
          println(s"[probe] pairs est>=$thr: $n")
        }
        spark.stop(); return
      case "d04stages" :: _ =>
        // stage-by-stage wall-clock of the d04 pipeline (2 rounds)
        import graft.llm.Dedup
        val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 2).foreach { round =>
          val reps = Dedup.representatives(docs, "doc_id", "text")
          time(s"r$round reps")(noop(reps))
          val sig = reps.select(col("id"),
            TextOps.minhashFromHashes(
              TextOps.charShingleHashes(col("__text"), 5), 64).as("sig"))
          time(s"r$round signatures")(noop(sig))
          val cands = Dedup.minhashPairs(docs, "doc_id", "text",
            numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.35)
          time(s"r$round candidates")(println(s"  n=${cands.count()}"))
          val full = Dedup.jaccardVerify(cands, reps, "id", "__text", n = 3)
          time(s"r$round verify(full)")(noop(full))
        }
        spark.stop(); return
      case "d04v2" :: _ =>
        // stage timing of the bucket-local lshJaccardPairs path
        import graft.llm.Dedup
        val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 2).foreach { round =>
          val reps = Dedup.representatives(docs, "doc_id", "text")
          println(s"[probe] reps n=${reps.count()}")
          val payload = reps.select(col("id"),
            TextOps.minhashFromHashes(
              TextOps.charShingleHashes(col("__text"), 5), 64).as("sig"),
            TextOps.wordNgramHashes(col("__text"), 3).as("grams"))
          time(s"r$round payload")(noop(payload))
          val full = Dedup.lshJaccardPairs(docs, "doc_id", "text",
            numHashes = 64, bands = 16, shingleSize = 5,
            estThreshold = 0.35, gramN = 3)
          time(s"r$round full")(println(s"  pairs=${full.count()}"))
        }
        spark.stop(); return
      case "d07stages" :: _ =>
        import graft.llm.Dedup
        val docs = graft.sources.Catalog.table(spark, sfDir, "documents")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 2).foreach { round =>
          val stars = Dedup.minhashStarPairs(docs, "doc_id", "text",
            numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.35)
          time(s"r$round stars")(println(s"  stars=${stars.count()}"))
          val reps = Dedup.representatives(docs, "doc_id", "text")
          val verified = Dedup.jaccardVerify(
              stars.select(col("id_a"), col("id_b")), reps, "id", "__text", n = 3)
            .filter(col("jaccard") >= 0.5)
          time(s"r$round verify")(println(s"  verified=${verified.count()}"))
          val cc = Dedup.connectedComponents(verified, "id_a", "id_b")
          time(s"r$round cc")(noop(cc))
        }
        spark.stop(); return
      case "st02stages" :: _ =>
        // stage-by-stage wall-clock of the sessionize window plan
        import org.apache.spark.sql.expressions.Window
        val ev = graft.sources.Catalog.table(spark, sfDir, "events")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 2).foreach { round =>
          val base = ev.select(col("user_id"), unix_micros(col("ts")).as("ms"))
          time(s"r$round scan+project")(noop(base))
          time(s"r$round +repart")(noop(base.repartition(col("user_id"))))
          time(s"r$round +sort")(noop(
            base.repartition(col("user_id")).sortWithinPartitions("user_id", "ms")))
          val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
          val lagged = base.withColumn("prev", lag(col("ms"), 1).over(w))
            .withColumn("new_sess",
              when(col("prev").isNull || col("ms") - col("prev") > 30L * 60 * 1000000, 1L)
                .otherwise(0L))
          time(s"r$round +window(lag)")(noop(lagged))
          time(s"r$round full(agg+order)")(noop(
            lagged.groupBy(col("user_id"))
              .agg(sum(col("new_sess")).cast("bigint").as("n_sessions"))
              .orderBy(col("user_id"))))
        }
        spark.stop(); return
      case "q5ab" :: _ =>
        // A/B: r12 bucketed q5 vs the V2 prep-folded shape
        import graft.sources.Bucketize
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 4).foreach { i =>
          time(s"q5b     r$i")(noop(
            graft.queries.Tpch.q5Plan(n => Bucketize.table(spark, sfDir, n), bucketed = true)))
          time(s"q5b_v2  r$i")(noop(
            graft.queries.Tpch.q5PlanV2(n => Bucketize.table(spark, sfDir, n), bucketed = true)))
        }
        spark.stop(); return
      case "st02c" :: _ =>
        // A/B: SessionCountAgg vs repartition+sorted-run mapPartitions
        // (partial agg does NOT shrink a collect-style buffer shuffle,
        // so the map-side hash machinery may be pure overhead)
        val ev = graft.sources.Catalog.table(spark, sfDir, "events")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val gap = 30L * 60 * 1000000
        import spark.implicits._
        (1 to 3).foreach { i =>
          time(s"agg     r$i")(noop(
            ev.select(col("user_id"), unix_micros(col("ts")).as("ms"))
              .groupBy(col("user_id"))
              .agg(graft.operators.SessionCount
                .sessionCount(col("ms"), gap)
                .cast("bigint").as("n_sessions"))))
          time(s"repagg  r$i")(noop(
            ev.select(col("user_id"), unix_micros(col("ts")).as("ms"))
              .repartition(col("user_id"))
              .groupBy(col("user_id"))
              .agg(graft.operators.SessionCount
                .sessionCount(col("ms"), gap)
                .cast("bigint").as("n_sessions"))))
          time(s"sortrun r$i")(noop(
            ev.select(col("user_id").cast("long").as("u"), unix_micros(col("ts")).as("ms"))
              .repartition(col("u")).sortWithinPartitions("u", "ms")
              .as[(Long, Long)]
              .mapPartitions { it =>
                val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
                var curU = Long.MinValue; var prev = 0L; var n = 0L; var any = false
                for ((u, ms) <- it) {
                  if (u != curU || !any) {
                    if (any) out += ((curU, n))
                    curU = u; n = 1L; any = true
                  } else if (ms - prev > gap) n += 1
                  prev = ms
                }
                if (any) out += ((curU, n))
                out.iterator
              }.toDF("user_id", "n_sessions")))
        }
        spark.stop(); return
      case "st02agg" :: _ =>
        // A/B: window-lag formulation vs SessionCountAgg
        val ev = graft.sources.Catalog.table(spark, sfDir, "events")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 3).foreach { i =>
          time(s"window r$i")(noop(
            graft.SparkEntry.queries("st02_sessionize")(spark, sfDir)))
          time(s"agg    r$i")(noop(
            ev.select(col("user_id"), unix_micros(col("ts")).as("ms"))
              .groupBy(col("user_id"))
              .agg(graft.operators.SessionCount
                .sessionCount(col("ms"), 30L * 60 * 1000000)
                .cast("bigint").as("n_sessions"))
              .orderBy(col("user_id"))))
        }
        spark.stop(); return
      case "q1b" :: _ =>
        val li = graft.sources.Catalog.table(spark, sfDir, "lineitem")
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 2).foreach { i =>
          time(s"scan+count r$i")(noop(li.groupBy(col("l_returnflag")).count()))
          time(s"double sums r$i")(noop(
            li.groupBy(col("l_returnflag"), col("l_linestatus"))
              .agg(sum(col("l_quantity")), sum(col("l_extendedprice")),
                sum(col("l_extendedprice") * col("l_discount")))))
          time(s"decimal sums r$i")(noop(
            li.groupBy(col("l_returnflag"), col("l_linestatus"))
              .agg(sum(col("l_quantity").cast("decimal(18,2)")),
                sum(col("l_extendedprice").cast("decimal(18,2)")),
                sum(graft.functions.Exact.revenue(col("l_extendedprice"), col("l_discount"))))))
          time(s"long-cent sums r$i")(noop(
            li.groupBy(col("l_returnflag"), col("l_linestatus"))
              .agg(sum(round(col("l_quantity") * 100).cast("bigint")),
                sum(round(col("l_extendedprice") * 100).cast("bigint")),
                sum(round(col("l_extendedprice") * 100).cast("bigint") *
                    (lit(100L) - round(col("l_discount") * 100).cast("bigint"))))))
        }
        spark.stop(); return
      case _ => ()
    }

    val docs = graft.sources.Catalog.table(spark, sfDir, "documents")

    val hs = docs.select(col("doc_id").as("id"),
      TextOps.shingleHashes(TextOps.charShingles(col("text"), 5)).as("hs"))
    time("shingle hashes only")(hs.write.format("noop").mode("overwrite").save())

    val sig = hs.select(col("id"), TextOps.minhashFromHashes(col("hs"), 64).as("sig"))
    time("hashes + signature (collapsed?)")(
      sig.write.format("noop").mode("overwrite").save())

    val sigC = sig.cache()
    time("signature cached")(sigC.count())

    val banded = sigC.select(col("id"),
      explode(TextOps.lshBands(col("sig"), 16, 4)).as("bk"))
      .select(col("id"), col("bk"))
    val a = banded.select(col("id").as("id_a"), col("bk"))
    val b = banded.select(col("id").as("id_b"), col("bk"))
    val pairs = a.join(b, a("bk") === b("bk") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val n = time("candidate pairs (narrow join + distinct)")(pairs.count())
    println(s"[probe] candidate pairs: $n")
    sigC.unpersist()
    spark.stop()
  }
}

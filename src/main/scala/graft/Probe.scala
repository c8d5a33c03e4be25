package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.extract.Mentions

/** Temporary phase-timing probe (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus)
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.file.transferTo", sys.env.getOrElse("SPARK_GRAFT_TRANSFERTO", "true"))
      .config("spark.serializer", sys.env.getOrElse("SPARK_GRAFT_SERIALIZER", "org.apache.spark.serializer.JavaSerializer"))
      .config("spark.shuffle.sort.bypassMergeThreshold", sys.env.getOrElse("SPARK_GRAFT_BYPASS", "200"))
      .config("spark.rdd.compress", sys.env.getOrElse("SPARK_GRAFT_RDD_COMPRESS", "false"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val t = time("t materialize (repartition+localCheckpoint)") {
      Bench.scaledTranscripts(spark, sfDir, scale).repartition(col("conv_id")).localCheckpoint()
    }
    println(s"[probe] t rows: ${t.count()} partitions: ${t.rdd.getNumPartitions}")

    // SPARK_GRAFT_PROBE=cascade|build: isolated single-phase measurement
    // (the sequential probe below accumulates cached state that pollutes
    // later phases' numbers)
    sys.env.get("SPARK_GRAFT_PROBE") match {
      case Some("cascade") =>
        val m0 = Mentions.extract(t).localCheckpoint()
        // per-job wall time: find which of the cascade's jobs eats the clock
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, j.time)
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dur = (j.time - starts.getOrDefault(j.jobId, j.time)) / 1000.0
            if (dur > 0.5) println(f"[probe]   job ${j.jobId}: $dur%.1f s")
          }
        })
        time("ISOLATED resolveCalls (count)") {
          graft.resolve.CallResolver
            .resolveCalls(
              m0.where(col("mention_type") === "FunctionCall"),
              m0.where(col("mention_type") === "FunctionDef"),
              t
            )
            .count()
        }
        spark.stop(); return
      case Some("canon-iso") =>
        import spark.implicits._
        val names = Seq("postgres", "kafka", "redis", "s3", "spark", "flink", "airflow",
          "sparkengine").toDF("name")
        time("candidatePairs on literal 8 names (count)") {
          graft.canon.Canon.candidatePairs(names, 0.3).count()
        }
        time("candidatePairs AGAIN (warm)") {
          graft.canon.Canon.candidatePairs(names, 0.3).count()
        }
        spark.stop(); return
      case Some("canon") =>
        val m0 = Mentions.extract(t).localCheckpoint()
        val re0 = graft.resolve.CallResolver
          .resolveEntities(spark, m0.where(col("mention_type") === "Entity"))
        val names = time("canonNames distinct (localCheckpoint)") {
          re0.select(col("canonical").as("name")).distinct().localCheckpoint()
        }
        val pairs = time("candidatePairs (count)") {
          val p = graft.canon.Canon.candidatePairs(names, 0.3); p.count(); p
        }
        time("connectedComponents") {
          graft.canon.Canon.connectedComponents(names, pairs).count()
        }
        spark.stop(); return
      case Some("plan") =>
        val g = graft.pipeline.GraphBuild.build(spark, t)
        val plan = g.edges.queryExecution.executedPlan.toString
        println(plan.linesIterator.filter(l =>
          l.contains("SortMergeJoin") || l.contains("Sort ") || l.contains("Exchange") ||
            l.contains("BroadcastNestedLoop") || l.contains("CartesianProduct"))
          .mkString("\n"))
        println("[probe] full plan nodes: " + plan.linesIterator.size)
        spark.stop(); return
      case Some("importance") =>
        val g = time("graph build") {
          val b = graft.pipeline.GraphBuild.build(spark, t)
          (b.nodes.localCheckpoint(), b.edges.localCheckpoint())
        }
        val (ipn, ipe) = graft.query.Importance.projection(g._1, g._2)
        println(s"[probe] importance |V|=${ipn.count()} |E|=${ipe.count()}")
        val ppn = g._1.where(col("node_type").isin("Request", "Endpoint", "Function"))
        val ppe = g._2.where(col("edge_type").isin("CALLS", "HANDLER"))
          .join(ppn.select(col("node_key").as("src_key")), Seq("src_key"), "left_semi")
          .join(ppn.select(col("node_key").as("dst_key")), Seq("dst_key"), "left_semi")
        println(s"[probe] kg_pagerank |V|=${ppn.count()} |E|=${ppe.count()}")
        val ipnC = ipn.localCheckpoint()
        val ipeC = ipe.localCheckpoint()
        time("importance pagerank only") {
          graft.query.Query.pagerank(ipnC, ipeC).localCheckpoint()
        }
        time("pagerankOf-equivalent loop") {
          graft.query.Query.pagerank(ppn, ppe).localCheckpoint()
        }
        time("Importance.scored lcp") {
          graft.query.Importance.scored(g._1, g._2).localCheckpoint()
        }
        spark.stop(); return
      case Some("build") =>
        val jobs0 = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val jobMillis = new java.util.concurrent.atomic.AtomicLong()
        val taskMillis = new java.util.concurrent.atomic.AtomicLong()
        val nTasks = new java.util.concurrent.atomic.AtomicLong()
        val stageMillis = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            starts.put(j.jobId, j.time)
            val stages = j.stageInfos.map(s => s"${s.name.takeWhile(_ != ' ')}x${s.numTasks}")
              .take(6).mkString(",")
            println(s"[probe]   job ${j.jobId} start: $stages")
          }
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dur = (j.time - starts.getOrDefault(j.jobId, j.time)) / 1000.0
            jobMillis.addAndGet((dur * 1000).toLong)
            if (dur > 0.5) println(f"[probe]   job ${j.jobId} END: $dur%.1f s")
          }
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            taskMillis.addAndGet(e.taskInfo.duration)
            nTasks.incrementAndGet()
            // bucket task seconds by stage id -> diffable across runs
            stageMillis.merge(e.stageId, e.taskInfo.duration, (a, b) => a + b)
          }
          override def onStageSubmitted(
              s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
            // first graft frame of the callsite identifies the operator
            val site = s.stageInfo.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("Probe"))
              .getOrElse("")
              .trim.take(60)
            stageNames.put(s.stageInfo.stageId,
              s.stageInfo.name.takeWhile(_ != ' ') + "#" + s.stageInfo.numTasks + " " + site)
          }
        })
        val w0 = System.nanoTime()
        time("ISOLATED full build (edges.count)") {
          graft.pipeline.GraphBuild.build(spark, t).edges.count()
        }
        val wall = (System.nanoTime() - w0) / 1e9
        // in-job vs between-job split: jobs here run sequentially (every
        // barrier is an action), so wall - sum(jobDur) ~= driver-side time
        // (planning, codegen, broadcast collects' local work)
        println(f"[probe] wall=$wall%.1f s  sum(jobDur)=${jobMillis.get / 1e3}%.1f s  " +
          f"driverGap=${wall - jobMillis.get / 1e3}%.1f s")
        println(f"[probe] sum(taskDur)=${taskMillis.get / 1e3}%.1f s over ${nTasks.get} tasks " +
          f"-> avg parallelism=${taskMillis.get / 1e3 / wall}%.1f")
        println(s"[probe] build jobs: " +
          s"${spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - jobs0}")
        locally {
          import scala.jdk.CollectionConverters._
          stageMillis.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (sid, ms) =>
            println(f"[probe]   stage $sid%4d ${stageNames.getOrDefault(sid, "?")}%-28s ${ms / 1e3}%7.1f task-s")
          }
        }
        spark.stop(); return
      case _ =>
    }

    val m = time("mentions (localCheckpoint)") {
      Mentions.extract(t).localCheckpoint()
    }
    println(s"[probe] mentions rows: ${m.count()}")

    val full = sys.env.getOrElse("SPARK_GRAFT_FULL", "1") == "1"
    if (full) {
    import graft.resolve.CallResolver
    import graft.link.PathNorm

    val calls = m.where(col("mention_type") === "FunctionCall")
    val defs = m.where(col("mention_type") === "FunctionDef")
    val rc = time("resolveCalls (count)") {
      val x = CallResolver.resolveCalls(calls, defs, t).localCheckpoint(); x.count(); x
    }
    time("resolveEntities (count)") {
      CallResolver.resolveEntities(spark, m.where(col("mention_type") === "Entity")).count()
    }
    time("linkApi (count)") {
      PathNorm.linkApi(
        m.where(col("mention_type") === "Request"),
        m.where(col("mention_type") === "Endpoint")
      ).count()
    }
    time("spineNodes (count)") {
      graft.pipeline.GraphBuild.spineNodes(spark, t).count()
    }
    // key-building cost proxy: MENTIONS-like edge branch with two nodeKey sides
    time("key-build 2x over 2.2M entity mentions (count)") {
      import graft.functions.Keys
      m.where(col("mention_type") === "Entity")
        .select(
          Keys.nodeKey(lit("Turn"), concat(lit("turn-"), col("turn_idx").cast("string")),
            col("conv_id"), col("turn_idx")).as("src_key"),
          Keys.nodeKey(lit("Entity"), col("name"), lit(""), lit(-1)).as("dst_key"))
        .count()
    }
    locally { val _ = rc }

    val g = time("full build from scratch (edges.count)") {
      val gg = graft.pipeline.GraphBuild.build(spark, Bench.scaledTranscripts(spark, sfDir, scale))
      gg.edges.count()
      gg
    }
    time("nodes.count (reuse)") { g.nodes.count() }
    time("edges.count AGAIN (no reuse — lineage recompute)") { g.edges.count() }
    // per-branch cost: edge_type filter prunes the other union branches
    Seq("CONTAINS", "OF", "USES", "MENTIONS", "CALLS", "HANDLER", "IMPORTS", "OPERAND")
      .foreach { et =>
        time(s"edges[$et].count") { g.edges.where(col("edge_type") === et).count() }
      }
    } // end if(full)

    // isolate dedup cost: same key-build, with and without dropDuplicates
    locally {
      import graft.functions.Keys
      val kb = t.select(
        lit("CONTAINS").as("edge_type"),
        Keys.nodeKey(lit("Conversation"), col("conv_id"), col("conv_id"), lit(-1)).as("src_key"),
        Keys.nodeKey(lit("Turn"), concat(lit("turn-"), col("turn_idx").cast("string")),
          col("conv_id"), col("turn_idx")).as("dst_key"),
        lit(1.0).as("confidence"), lit("spine").as("strategy"))
      time("contains-branch keys FORCED no-shuffle (agg of xxhash)") {
        kb.select(xxhash64(col("src_key"), col("dst_key")).as("h")).agg(max("h")).collect()
      }
      time("contains-branch distinct() (count)") { kb.distinct().count() }
      time("contains-branch dropDuplicates(3) (count)") {
        kb.dropDuplicates("edge_type", "src_key", "dst_key").count()
      }
      // same shape but keys built with plain lower(translate()) not regexp
      val kb2 = t.select(
        lit("CONTAINS").as("edge_type"),
        concat_ws("-", lit("conversation"),
          lower(translate(col("conv_id"), "-", "")),
          lower(translate(col("conv_id"), "-", "")), lit("1")).as("src_key"),
        concat_ws("-", lit("turn"),
          concat(lit("turn"), col("turn_idx").cast("string")),
          lower(translate(col("conv_id"), "-", "")),
          col("turn_idx").cast("string")).as("dst_key"),
        lit(1.0).as("confidence"), lit("spine").as("strategy"))
      time("translate-key branch FORCED no-shuffle") {
        kb2.select(xxhash64(col("src_key"), col("dst_key")).as("h")).agg(max("h")).collect()
      }
      time("translate-key branch distinct() (count)") { kb2.distinct().count() }
    }
    spark.stop()
  }
}

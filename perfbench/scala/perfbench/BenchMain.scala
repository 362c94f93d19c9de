package perfbench

import java.io.FileInputStream
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** What a run observed for the correctness gate: result digests (the
  * comparison itself happens in `perfbench/run.py`), failed operations
  * and the stored layouts' sizes. */
final class Observations {
  var attempted = 0L
  val checks = mutable.ArrayBuffer.empty[(String, String, String)]
  val errors = mutable.ArrayBuffer.empty[(String, String)]
  val layouts = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]

  def attempt(): Unit = attempted += 1
  /** `expected` is "" when the reference lives outside the JVM. */
  def check(key: String, expected: String, actual: String): Unit =
    checks += ((key, expected, actual))
  def error(op: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $op failed: $e")
    errors += ((op, String.valueOf(e.getMessage).take(300)))
  }
  def layoutBytes(layout: String, stored: Long, input: Long,
                  files: Long): Unit =
    layouts(layout) = (stored, input, files)
}

/** Runs one benchmark workload in this JVM and writes what it observed
  * (spans, per-span Spark job counters, result digests, failures) as
  * JSON. `perfbench/run.py` plans the run (seeded query order, lifecycle
  * slices), starts this JVM, checks the digests and derives the metrics.
  *
  * Usage: perfbench.BenchMain <plan.properties> */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = new FileInputStream(args(0))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k))
      .getOrElse(sys.error(s"plan lacks $k"))
    def list(k: String): Seq[String] =
      Option(plan.getProperty(k)).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val workload = p("workload")
    val corpus = p("corpus")
    val seconds = p("seconds").toDouble
    val trace = p("trace") == "1"
    val cpus = p("cpus")

    // the bench contract: noop sink over the un-ordered plans
    System.setProperty(graft.queries.Q.NoOrderProp, "true")
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    val stats = new JobStats
    if (trace) spark.sparkContext.addSparkListener(stats)
    val tracer = new Tracer(spark.sparkContext, jobGroups = trace)
    val readyMs = System.currentTimeMillis()
    val obs = new Observations
    var warmEndMs = 0L

    // closed loop: one call at a time on this thread, whole passes until
    // `seconds` have passed (at least one)
    def measure(onePass: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds && i < 200) {
        tracer.span("pass", i.toString) { s =>
          val cpu0 = processCpuNs()
          onePass(i)
          s.attrs("cpu_s") = (processCpuNs() - cpu0) / 1e9
        }
        i += 1
      }
    }

    workload match {
      case "layout_lifecycle" =>
        val lc = new Lifecycle(spark, corpus, tracer, p("lc.salt").toLong,
          list("lc.terms"), list("lc.phrase"), list("lc.qvecs").map(_.toLong),
          obs)
        val root = s"${System.getProperty("java.io.tmpdir")}/perfbench-layouts"
        val docBytes = Files.size(Paths.get(s"$corpus/documents.parquet"))
        val vecBytes = Files.size(Paths.get(s"$corpus/embeddings.parquet"))
        val input = Map("bm25" -> docBytes, "postings" -> docBytes,
          "ivfpq" -> vecBytes)
        val rebuilt = tracer.span("warmup", "rebuilds")(_ =>
          lc.rebuilds(s"$root/rebuild", list("lc.verify_stages").map(_.toInt)))
        warmEndMs = System.currentTimeMillis()
        measure { i =>
          obs.layouts.clear()
          val digests = tracer.span("lifecycle", i.toString)(_ =>
            lc.chain(s"$root/pass$i", trace, input))
          Lifecycle.removeTree(Paths.get(s"$root/pass$i"))
          digests.foreach { case (k, d) =>
            rebuilt.get(k).foreach(obs.check(k, _, d)) }
        }
        if (trace) Lifecycle.Layouts.foreach { l =>
          tracer.span("input", l)(_.attrs("fresh_bytes") = lc.freshBytes(l).toDouble)
        }
        Lifecycle.removeTree(Paths.get(root))

      case _ =>
        val fns = SparkEntry.queries
        val queries = list("queries")
        val orders = p("orders").split(";").toSeq
          .map(_.split(",").toSeq.map(_.toInt))
        // untimed warm-up: every query's result digest, submitted from
        // `cpus` threads so independent small jobs overlap
        tracer.span("warmup", "queries") { _ =>
          val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus.toInt)
          try {
            val digests = queries.map { q =>
              q -> pool.submit(() => fingerprint(fns(q)(spark, corpus)))
            }
            digests.foreach { case (q, f) =>
              try obs.check(q, "", f.get())
              catch { case e: java.util.concurrent.ExecutionException =>
                obs.error(q, e.getCause) }
            }
          } finally pool.shutdown()
        }
        warmEndMs = System.currentTimeMillis()
        measure { i =>
          orders(i % orders.size).map(queries).foreach { q =>
            tracer.span("query", q) { _ =>
              obs.attempt()
              try {
                val df = tracer.span("construct", q)(_ => fns(q)(spark, corpus))
                // forced planning, traced runs only: the write plans again
                if (trace) tracer.span("plan", q) { s =>
                  val qe = df.queryExecution
                  val t1 = System.nanoTime()
                  qe.optimizedPlan
                  val t2 = System.nanoTime()
                  qe.executedPlan
                  s.attrs("optimize_s") = (t2 - t1) / 1e9
                  s.attrs("physical_s") = (System.nanoTime() - t2) / 1e9
                  PlanCounts.of(qe).foreach { case (k, v) => s.attrs(k) = v.toDouble }
                }
                tracer.span("execute", q) { _ =>
                  df.write.format("noop").mode("overwrite").save()
                }
              } catch { case e: Throwable => obs.error(q, e) }
            }
          }
        }
    }

    val rssKb = peakRssKb()
    val heap = liveHeap()
    spark.stop() // drains the listener bus before JobStats is read
    writeJson(p("out"), readyMs, warmEndMs, rssKb, heap, tracer, stats, obs)
  }

  /** Order-insensitive digest of a result: row count and the exact sum of
    * the per-row xxhash64. Equal rows give equal digests under any
    * partitioning, so it also holds against an oracle-checked dump. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c =>
      col("`" + c.replace("`", "``") + "`")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$s"
  }

  /** Heap still in use after a full collection: what the session
    * retains (cached plans, checkpointed blocks, broadcasts), in bytes.
    * Blocks of unreachable checkpoints are dropped by Spark's cleaner
    * thread after a collection finds them, so collect, give the cleaner
    * a moment, and collect again. */
  def liveHeap(): Long = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
  }

  /** CPU time of the whole JVM (all threads, compilers and GC included). */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** VmHWM: the JVM's peak resident set, in kB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  private def writeJson(out: String, readyMs: Long, warmEndMs: Long,
                        rssKb: Long, heap: Long, tracer: Tracer,
                        stats: JobStats,
                        obs: Observations): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"ready_ms":$readyMs,"warm_end_ms":$warmEndMs,"peak_rss_kb":$rssKb,"live_heap":$heap,"attempted":${obs.attempted},"""
    sb ++= "\"spans\":["
    sb ++= tracer.spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${str(k)}:${num(v)}" }
        .mkString("{", ",", "}")
      s"""[${s.id},${s.parent},${str(s.kind)},${str(s.name)},${s.startNs},${s.endNs},$attrs]"""
    }.mkString(",\n")
    sb ++= "],\"groups\":{"
    sb ++= stats.byGroup.toSeq.map { case (g, a) =>
      s"""${str(g)}:{"jobs":${a.jobs},"stages":${a.stages},"stages_skipped":${a.stagesSkipped},"tasks":${a.tasks},"failed_tasks":${a.failedTasks},"task_s":${a.taskMs / 1e3},"task_cpu_s":${a.cpuNs / 1e9},"gc_s":${a.gcMs / 1e3},"shuffle_write_bytes":${a.shuffleWrite},"shuffle_read_bytes":${a.shuffleRead},"spill_bytes":${a.spill},"input_bytes":${a.input}}"""
    }.mkString(",\n")
    sb ++= "},\"checks\":["
    sb ++= obs.checks.map { case (k, e, a) => s"[${str(k)},${str(e)},${str(a)}]" }
      .mkString(",\n")
    sb ++= "],\"errors\":["
    sb ++= obs.errors.map { case (k, m) => s"[${str(k)},${str(m)}]" }.mkString(",")
    sb ++= "],\"layouts\":{"
    sb ++= obs.layouts.map { case (l, (s, i, f)) =>
      s"""${str(l)}:{"stored_bytes":$s,"input_bytes":$i,"live_files":$f}"""
    }.mkString(",")
    sb ++= "}}\n"
    Files.writeString(Paths.get(out), sb.toString)
  }
}

/** Static counts of a planned query: shuffle exchanges and file scans in
  * the physical plan (adaptive plans: the initial input plan), and the
  * checkpointed leaves (`localCheckpoint` → LogicalRDD) of the optimized
  * plan. */
object PlanCounts {
  import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  def of(qe: org.apache.spark.sql.execution.QueryExecution): Seq[(String, Long)] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val phys = nodes(qe.executedPlan)
    Seq(
      "exchanges" -> phys.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      "scans" -> phys.count(_.isInstanceOf[FileSourceScanExec]).toLong,
      "checkpoint_leaves" -> qe.optimizedPlan.collectLeaves()
        .count(_.isInstanceOf[LogicalRDD]).toLong)
  }
}

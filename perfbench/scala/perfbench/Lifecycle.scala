package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity}
import graft.sources.Writers

/** The `layout_lifecycle` workload: for each stored serving layout
  * (bm25 and postings over `documents`, ivfpq over `embeddings`) one
  * chain of `graft.sources.Writers` verbs with a probe after each step:
  *
  * build → probe → merge ×2 → probe → delete → probe → update → probe →
  * compact → vacuum → probe → AS-OF probe.
  *
  * The seed's `salt` picks the id slices (base 60%, two fresh batches of
  * 20%, 5% deleted, a disjoint 5% updated), the probe terms, the phrase
  * and the query vectors. Every probe's result must equal the same probe
  * over a from-scratch build of the same live ids ([[rebuilds]]). */
final class Lifecycle(spark: SparkSession, corpus: String, tracer: Tracer,
                      salt: Long, terms: Seq[String], phrase: Seq[String],
                      qvecs: Seq[Long], obs: Observations) {
  import Lifecycle._

  private val docs = graft.Tables.load(spark, corpus, "documents")
    .select(col("doc_id"), col("text"))
  private val vecs = graft.Tables.load(spark, corpus, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private def bucket(id: Column): Column = pmod(xxhash64(id, lit(salt)), lit(100))
  private def pick(id: Column): Column = pmod(xxhash64(id, lit(salt + 1)), lit(20))
  private def inRange(id: Column, lo: Int, hi: Int): Column =
    bucket(id) >= lo && bucket(id) < hi
  private def deleted(id: Column): Column = pick(id) === 0
  private def updated(id: Column): Column = pick(id) === 1
  private val halve: Column = array_join(slice(split(col("text"), " "),
    lit(1), greatest(lit(1), floor(size(split(col("text"), " ")) / 2)
      .cast("int"))), " ")

  private def idCol(layout: String): Column =
    if (layout == "ivfpq") col("vec_id") else col("doc_id")
  private def table(layout: String): DataFrame =
    if (layout == "ivfpq") vecs else docs
  private def changed(layout: String): DataFrame = {
    val id = idCol(layout)
    if (layout == "ivfpq")
      vecs.filter(updated(id)).withColumn("embedding", reverse(col("embedding")))
    else docs.filter(updated(id)).withColumn("text", halve)
  }

  /** The live rows a from-scratch build must hold after `stage`
    * (0 = built, 1 = merged, 2 = deleted, 3 = updated). */
  private def live(layout: String, stage: Int): DataFrame = {
    val id = idCol(layout)
    val t = table(layout)
    stage match {
      case 0 => t.filter(inRange(id, 0, 60))
      case 1 => t
      case 2 => t.filter(!deleted(id))
      case _ =>
        val all = t.filter(!deleted(id) && !updated(id))
        all.unionByName(changed(layout))
    }
  }

  /** Input bytes of a batch as the layout sees them (ids + payload). */
  private def batchBytes(layout: String, df: DataFrame): Long =
    if (layout == "ivfpq")
      df.agg(sum(lit(8L) + size(col("embedding")) * 4L)).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    else df.agg(sum(lit(8L) + octet_length(col("text")))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }

  def freshBytes(layout: String): Long = {
    val id = idCol(layout)
    batchBytes(layout, table(layout).filter(inRange(id, 60, 80))) +
      batchBytes(layout, table(layout).filter(inRange(id, 80, 100)))
  }

  // ---- the layout verbs -------------------------------------------------

  private def build(layout: String, path: String, rows: DataFrame): Unit =
    layout match {
      case "bm25" => Writers.writeBm25Index(rows, path)
      case "postings" => Writers.writePostings(spark, rows, path)
      case "ivfpq" =>
        val coarse = rows.orderBy(col("vec_id")).limit(CoarseK)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        coarse.write.mode("overwrite").parquet(s"$path/centroids")
        val cents = spark.read.parquet(s"$path/centroids")
        val (codes, book) = Similarity.ivfPqIndexTables(
          rows, "vec_id", "embedding", cents, "cid", "cvec")
        Writers.writeIvfCodes(spark, codes, path)
        Writers.padIvfPqCodebook(spark, book, 4, 16, 4)
          .write.mode("overwrite").parquet(s"$path/codebook")
    }

  private def merge(layout: String, path: String, fresh: DataFrame): Unit =
    layout match {
      case "bm25" => Writers.mergeBm25Index(spark, path, fresh)
      case "postings" => Writers.mergePostings(spark, path, fresh)
      case "ivfpq" => Writers.mergeIvfPqIndex(spark, path, fresh)
    }

  private def delete(layout: String, path: String, ids: DataFrame): Unit =
    layout match {
      case "bm25" => Writers.deleteFromBm25Index(spark, path, ids)
      case "postings" => Writers.deleteFromPostings(spark, path, ids)
      case "ivfpq" => Writers.deleteFromIvfPqIndex(spark, path, ids)
    }

  private def update(layout: String, path: String, rows: DataFrame): Unit =
    layout match {
      case "bm25" => Writers.updateBm25Index(spark, path, rows)
      // the postings leg has no in-place update: a changed document
      // routes delete → compact → re-merge (Writers.postingsDeletes)
      case "postings" =>
        Writers.deleteFromPostings(spark, path, rows.select(col("doc_id")))
        Writers.compactPostings(spark, path)
        Writers.mergePostings(spark, path, rows)
      case "ivfpq" => Writers.updateIvfPqIndex(spark, path, rows)
    }

  private def compact(layout: String, path: String): Unit = layout match {
    case "bm25" => Writers.compactBm25Index(spark, path)
    case "postings" => Writers.compactPostings(spark, path)
    case "ivfpq" => Writers.compactIvfPqIndex(spark, path)
  }

  private def vacuum(layout: String, path: String): Long = layout match {
    case "bm25" => Writers.vacuumBm25Index(spark, path)
    case "postings" => Writers.vacuumPostings(spark, path)
    case "ivfpq" => Writers.vacuumIvfPqIndex(spark, path)
  }

  /** Committed generation of a layout — the horizon of the AS-OF probe. */
  private def committedGen(layout: String, path: String): Long = {
    val p = layout match {
      case "bm25" => s"$path/stats"
      case "postings" => s"$path/_gen"
      case "ivfpq" => s"$path/gen"
    }
    spark.read.parquet(p).select(col("next_gen")).head().getLong(0)
  }

  // ---- the stored-layout probes ----------------------------------------

  private def probeFrame(layout: String, path: String, step: Int,
                         asOf: Option[Long]): DataFrame =
    layout match {
      case "bm25" =>
        val stats = asOf.fold(spark.read.parquet(s"$path/stats"))(
          g => Writers.bm25StatsAsOf(spark, path, g))
        Retrieval.bm25Stored(Writers.prunedBm25Tf(spark, path, terms, asOf),
          stats, "doc_id", terms)
      case "postings" =>
        Retrieval.phraseSearch(
          Writers.prunedPostings(spark, path, phrase, asOf), "doc_id", phrase)
      case "ivfpq" =>
        val q = vecs.filter(col("vec_id") === qvecs(step % qvecs.size))
          .select(col("embedding").as("qvec"))
        Similarity.ivfPqSearchStored(
          Writers.liveCodes(spark, path, asOfGen = asOf),
          spark.read.parquet(s"$path/codebook"),
          spark.read.parquet(s"$path/centroids"),
          "vec_id", q, "qvec", nprobe = 3, k = 20)
    }

  /** Probe steps of one chain as (step, live-set stage): stages 0–3 are
    * built, merged, deleted and updated; steps 4 and 5 (after compact and
    * vacuum, and the AS-OF read) see the updated live set. */
  val Steps: Seq[(Int, Int)] = Seq((0, 0), (1, 1), (2, 2), (3, 3), (4, 3), (5, 3))

  /** One chain over the three layouts under `root`; each probe's result
    * digest is returned under `layout.p<step>`, to be compared with
    * [[rebuilds]]' digests. With `traced`, file listings and plan walks
    * (in `trace` spans, outside every verb and probe span) add the files
    * written and read to the spans. */
  def chain(root: String, traced: Boolean,
            inputBytes: Map[String, Long]): Map[String, String] = {
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (layout <- Layouts) {
      val path = s"$root/$layout"
      val id = idCol(layout)
      def verb(name: String)(body: => Unit): Unit = {
        val before = if (traced) tracer.span("trace", "listing")(_ => listing(path))
                     else Map.empty[String, Long]
        val s = tracer.span("verb", s"$layout.$name") { s =>
          obs.attempt()
          body
          s
        }
        if (traced) tracer.span("trace", "listing")(_ =>
          fileDelta(before, listing(path), s))
      }
      def probeStep(step: Int, asOf: Boolean): Unit = {
        val g = if (asOf) Some(committedGen(layout, path)) else None
        val kind = if (asOf) "asof" else "probe"
        val (s, df, rows) = tracer.span("probe", s"$layout.$kind") { s =>
          obs.attempt()
          val df = probeFrame(layout, path, step, g)
          (s, df, df.collect())
        }
        if (traced) tracer.span("trace", "plan-metrics")(_ =>
          s.attrs("files_read") = filesRead(df).toDouble)
        digests(s"$layout.p$step") = md5(canonical(rows))
      }
      try {
        tracer.span("layout", layout) { _ =>
          verb("build")(build(layout, path, table(layout).filter(inRange(id, 0, 60))))
          probeStep(0, asOf = false)
          verb("merge")(merge(layout, path, table(layout).filter(inRange(id, 60, 80))))
          verb("merge")(merge(layout, path, table(layout).filter(inRange(id, 80, 100))))
          probeStep(1, asOf = false)
          verb("delete")(delete(layout, path,
            table(layout).filter(deleted(id)).select(id)))
          probeStep(2, asOf = false)
          verb("update")(update(layout, path, changed(layout)))
          probeStep(3, asOf = false)
          verb("compact")(compact(layout, path))
          verb("vacuum")(vacuum(layout, path))
          probeStep(4, asOf = false)
          probeStep(5, asOf = true)
        }
        val files = listing(path)
        obs.layoutBytes(layout, files.values.sum, inputBytes(layout),
          files.keys.count(_.endsWith(".parquet")))
      } catch { case e: Throwable => obs.error(s"lifecycle:$layout", e) }
    }
    digests.toMap
  }

  /** Digests of the chain's probes over from-scratch builds of the live
    * ids of each of `stages`, keyed like [[chain]]'s. The IVF-PQ rebuild
    * trains its centroids and codebook on the base slice, as the chain's
    * build does, then encodes every live vector against them. The rebuilds run
    * concurrently, before the measured chains: they are the workload's
    * untimed warm-up. */
  def rebuilds(scratch: String, stages: Seq[Int]): Map[String, String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val work = for (layout <- Layouts; stage <- stages) yield Future {
      val p2 = s"$scratch/$layout.stage$stage"
      val id = idCol(layout)
      val rows = live(layout, stage)
      if (layout == "ivfpq") {
        build(layout, p2, table(layout).filter(inRange(id, 0, 60)))
        Writers.writeIvfCodes(spark, Similarity.ivfPqEncode(rows, "vec_id",
          "embedding", spark.read.parquet(s"$p2/centroids")), p2)
      } else build(layout, p2, rows)
      try Steps.collect { case (step, `stage`) =>
        s"$layout.p$step" ->
          md5(canonical(probeFrame(layout, p2, step, None).collect()))
      } finally removeTree(Paths.get(p2))
    }
    work.flatMap(Await.result(_, Duration.Inf)).toMap
  }
}

object Lifecycle {
  val Layouts: Seq[String] = Seq("bm25", "postings", "ivfpq")
  val CoarseK = 8

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  def canonical(rows: Array[org.apache.spark.sql.Row]): String =
    rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
      .mkString("\n")

  /** Regular files under `root` with their sizes. */
  def listing(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else {
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Files a verb wrote (new or rewritten) and the bytes it removed. */
  def fileDelta(before: Map[String, Long], after: Map[String, Long],
                s: Span): Unit = {
    val written = after.filter { case (p, n) =>
      p.endsWith(".parquet") && !before.get(p).contains(n) }
    s.attrs("files_written") = written.size.toDouble
    s.attrs("bytes_written") = written.values.sum.toDouble
    s.attrs("bytes_freed") =
      before.filter { case (p, _) => !after.contains(p) }.values.sum.toDouble
  }

  /** Parquet files the executed plan read (`numFiles` of every file scan,
    * through adaptive stage boundaries). */
  def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case other => (other.children ++ other.subqueries).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  def removeTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

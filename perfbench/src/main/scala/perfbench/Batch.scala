package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The batch probe of a traced run: a few of the engine's named queries
  * (`SparkEntry.queries`) run one after another on one thread, each forced
  * with count(). */
object Batch {
  /** One query per kind of batch work: graph `localCheckpoint` rounds, a
    * streaming drain, a staged text index. */
  val Probe: Seq[String] = Seq("q_gr_pagerank", "q_st_windowed", "q_dd_prefix_join")

  /** Staged artifacts under `root`: directories holding a `_SUCCESS`
    * marker. */
  def stagedDirs(root: File): Set[String] = {
    val out = mutable.Set.empty[String]
    def walk(d: File): Unit = Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) walk(f)
      else if (f.getName == "_SUCCESS") out += d.getPath
    }
    walk(root)
    out.toSet
  }

  /** The warm pass: run each query once and write its full result as one
    * file, the layout the repository's oracle compare reads. */
  def warm(spark: SparkSession, names: Seq[String], data: String, results: String): Unit =
    names.foreach { q =>
      graft.SparkEntry.queries(q)(spark, data).coalesce(1).write.parquet(s"$results/$q")
    }

  /** One timed pass. Returns one op per query and the row counts. */
  def pass(spark: SparkSession, names: Seq[String], data: String,
           tracer: Tracer): Seq[(Op, Long)] =
    names.map { q =>
      val id = tracer.newId()
      if (tracer.tracedNow) spark.sparkContext.setJobGroup(id.toString, q)
      val t0 = System.nanoTime()
      val (rows, fail) =
        try (graft.SparkEntry.queries(q)(spark, data).count(), "")
        catch {
          case e: Exception =>
            val cls = Http.errorClass(e.getMessage).getOrElse(e.getClass.getSimpleName)
            (-1L, s"$cls: ${Option(e.getMessage).getOrElse("")}".take(300))
        }
      val t1 = System.nanoTime()
      if (tracer.tracedNow) spark.sparkContext.clearJobGroup()
      tracer.span(id, 0L, q, t0, t1, if (fail.isEmpty) "ok" else fail, t0)
      (Op(q, t0, t1, fail), rows)
    }
}

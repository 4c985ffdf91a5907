package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.hist._

/** Runs the phases of one public call. When the call is traced each phase
  * is a span (and Spark jobs started inside it become its children);
  * otherwise the phase body just runs. */
trait Phase {
  def apply[T](name: String)(body: => T): T
}

object Phase {
  /** Runs phases without recording them. */
  object Plain extends Phase { def apply[T](name: String)(body: => T): T = body }
}

/** Outcome of the untimed correctness checks of one run. */
final case class CheckResult(attempted: Int, errors: Seq[String])

/** What the harness measures: how the input is opened, the calls a timed
  * pass consists of, the correctness check and the probes of the input
  * and binning layers. */
trait Workload {
  /** Untimed passes after set-up, so the JIT has compiled the hot paths
    * before the window opens. */
  def warmupPasses: Int
  /** Opens the input on a fresh session (part of set-up). */
  def open(spark: SparkSession): Unit
  /** The timed calls of pass `pass`, each a name and a body returning the
    * number of result rows brought to the driver. */
  def pass(pass: Int): Seq[(String, (SparkSession, Phase) => Long)]
  /** Untimed correctness checks, once per run after the warm-up. */
  def check(spark: SparkSession, hygiene: (SparkSession, () => Unit) => Int): CheckResult
  /** Partition layout of the input: (partitions, smallest row count). */
  def layout(spark: SparkSession): (Int, Long) = {
    val counts = scanned(spark).select(spark_partition_id().as("p"))
      .groupBy("p").count().collect().map(_.getLong(1))
    val parts = scanned(spark).rdd.getNumPartitions
    (parts, if (counts.length < parts) 0L else counts.min)
  }
  /** The input columns the layer probes read. */
  def scanned(spark: SparkSession): DataFrame
  /** The bin-index projections of those columns (axis layer probe). */
  def projected(spark: SparkSession): DataFrame
  def inputRows(spark: SparkSession): Long
  def dims: Int
  /** Cells of the filled histogram including flow bins (fill workloads). */
  def cells: Long = 0L
}

object Workload {
  def apply(name: String, seed: Long, work: String, tables: String): Workload = name match {
    case "fill_rows" => new FillRows(s"$work/input")
    case "fill_bins" => new FillBins(s"$work/input")
    case "queries" => new Registry(Registry.HistQueries ++ Registry.OpsQueries, seed, tables, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** The fill workloads read generated rows x~U[0,1), y~N(0,1), z~U[0,1)
  * and an integer weight w in 1..4 (gen_fill.py: parquet, one file per
  * partition), with one read partition per file. */
abstract class Fill(dir: String) extends Workload {
  protected var df: DataFrame = _
  private var rows = 0L
  /** Dense arrays of the last call (checked after the warm-up). */
  protected var last: (Array[Double], Option[Array[Double]]) = _

  override def open(spark: SparkSession): Unit = {
    // one read partition per file: a split may not cut a file, and the
    // open cost keeps two files out of one split
    val biggest = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).map(Files.size).max
    spark.conf.set("spark.sql.files.maxPartitionBytes", (biggest + 1).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", (biggest + 1).toString)
    df = spark.read.parquet(dir)
  }

  override def inputRows(spark: SparkSession): Long = {
    if (rows == 0L) rows = df.count()
    rows
  }
  override def scanned(spark: SparkSession): DataFrame = df.select((coords :+ col("w")): _*)
  override def projected(spark: SparkSession): DataFrame =
    df.select((axes.zip(coords).map { case (a, c) => a.binCol(c) } :+ col("w")): _*)
  override def dims: Int = axes.size
  override def cells: Long = axes.map(_.nBins + 2L).product

  protected def axes: Seq[Regular]
  protected def coords: Seq[Column] = Seq(col("x"), col("y"), col("z")).take(axes.size)

  /** The reference histogram, binned with the benchmark's own SQL (the
    * boost regular-axis formula; underflow 0, overflow n+1), as dense
    * arrays of sum(w) and sum(w*w) in row-major order with flow bins. */
  protected def reference(spark: SparkSession): (Array[Double], Array[Double]) = {
    def bin(c: String, a: Regular): String =
      s"CASE WHEN $c >= ${a.hi} THEN ${a.n + 1} WHEN $c < ${a.lo} THEN 0 " +
        s"ELSE CAST(floor(($c - ${a.lo}) * ${a.n.toDouble} / ${a.hi - a.lo}) AS BIGINT) + 1 END"
    val names = Seq("x", "y", "z").take(axes.size)
    val idx = names.zip(axes).zipWithIndex.map { case ((c, a), i) => s"${bin(c, a)} AS i$i" }
    df.createOrReplaceTempView("perfbench_input")
    val rows = spark.sql(
      s"SELECT ${idx.mkString(", ")}, CAST(SUM(w) AS DOUBLE) AS s1, " +
        s"CAST(SUM(w * w) AS DOUBLE) AS s2 FROM perfbench_input " +
        s"GROUP BY ${axes.indices.map(i => s"i$i").mkString(", ")}").collect()
    val dimsN = axes.map(_.nBins + 2)
    val strides = dimsN.scanRight(1)(_ * _).tail
    val s1 = new Array[Double](cells.toInt)
    val s2 = new Array[Double](cells.toInt)
    rows.foreach { r =>
      val flat = axes.indices.map(i => r.getLong(i).toInt * strides(i)).sum
      s1(flat) = r.getDouble(axes.size)
      s2(flat) = r.getDouble(axes.size + 1)
    }
    (s1, s2)
  }

  override def check(spark: SparkSession, hygiene: (SparkSession, () => Unit) => Int): CheckResult = {
    val (s1, s2) = reference(spark)
    val errs = Seq.newBuilder[String]
    def cmp(what: String, got: Array[Double], want: Array[Double]): Unit = {
      val bad = got.indices.count(i => java.lang.Double.compare(got(i), want(i)) != 0)
      if (got.length != want.length) errs += s"$what: ${got.length} cells, reference ${want.length}"
      else if (bad > 0) errs += s"$what: $bad of ${got.length} cells differ from the reference"
    }
    cmp("counts", last._1, s1)
    last._2.foreach(v => cmp("variances", v, s2))
    if (s1.sum <= 0) errs += "the reference histogram is empty"
    CheckResult(1, errs.result())
  }
}

/** Few cells, many rows per partition: the staged-fill builder with weight
  * storage on 2 axes (100 × 100 bins, 10,404 cells with flow). */
final class FillRows(dir: String) extends Fill(dir) {
  override val warmupPasses = 12
  private val spec = HistSpec(Seq(Regular(100, 0.0, 1.0), Regular(100, -4.0, 4.0)), WeightStorage)
  override protected def axes: Seq[Regular] = spec.axes.map(_.asInstanceOf[Regular])
  override def pass(pass: Int): Seq[(String, (SparkSession, Phase) => Long)] = Seq(
    "fill_rows" -> { (spark: SparkSession, ph: Phase) =>
      val h = ph("Histogram.result") {
        new Histogram(spec).fill(df, Seq(col("x"), col("y")), weight = Some(col("w"))).result(spark)
      }
      val r = ph("HistResult.collect")(HistResult.collect(spec, h))
      last = ph("HistResult.dense")((r.counts(), r.variances()))
      r.rows.length.toLong
    })
}

/** About 1.6 cells per row of a partition: the NumPy-style routine on 3
  * axes (56³ bins, 195,112 cells with flow); partial aggregation barely
  * compresses, so the shuffle and the driver collect carry the work. */
final class FillBins(dir: String) extends Fill(dir) {
  override val warmupPasses = 5
  private val bins = 56
  override protected val axes: Seq[Regular] =
    Seq(Regular(bins, 0.0, 1.0), Regular(bins, -4.0, 4.0), Regular(bins, 0.0, 1.0))
  private val ranges = Some(axes.map(a => Some(BinsSpec.RangePair(a.lo, a.hi))))
  override def pass(pass: Int): Seq[(String, (SparkSession, Phase) => Long)] = Seq(
    "fill_bins" -> { (spark: SparkSession, ph: Phase) =>
      val (spec, h) = ph("Routines.histogramdd") {
        Routines.histogramdd(df, coords, BinsSpec.Count(bins), ranges, weights = Some(col("w")))
      }
      val r = ph("HistResult.collect")(HistResult.collect(spec, h))
      last = ph("HistResult.dense")((r.counts(), None))
      r.rows.length.toLong
    })
}

/** Registry queries through `SparkEntry.queries(name)`: each call is the
  * query function, then `queryExecution.executedPlan`, then a noop write.
  * The seed orders each pass. */
final class Registry(names: Seq[String], seed: Long,
    tables: String, work: String) extends Workload {
  override val warmupPasses = 3
  private val queries = SparkEntry.queries
  private var lineitem: DataFrame = _

  override def open(spark: SparkSession): Unit =
    lineitem = spark.read.parquet(s"$tables/lineitem.parquet")

  override def pass(pass: Int): Seq[(String, (SparkSession, Phase) => Long)] =
    new Random(seed * 1000003L + pass).shuffle(names).map { n =>
      n -> { (spark: SparkSession, ph: Phase) =>
        val df = ph(s"query:$n.construct")(queries(n)(spark, tables))
        ph(s"query:$n.plan")(df.queryExecution.executedPlan)
        ph(s"query:$n.exec")(df.write.format("noop").mode("overwrite").save())
        0L
      }
    }

  /** Writes each query's result as parquet under `work/results`, in the
    * layout `tools/check.py` reads: one directory per query, the DuckDB
    * oracle SQL in `oracle_sql.json` and the queries that threw in
    * `failures.txt`. The comparison runs after the JVM exits, and counts
    * every failure; a query that throws is reported, never dropped. */
  override def check(spark: SparkSession, hygiene: (SparkSession, () => Unit) => Int): CheckResult = {
    val out = Paths.get(s"$work/results")
    val failed = Seq.newBuilder[String]
    names.foreach { n =>
      try hygiene(spark, () => queries(n)(spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$out/$n"))
      catch {
        case NonFatal(e) =>
          failed += s"$n: ${e.toString.replace('\n', ' ')}"
          val partial = out.resolve(n)    // so it is not read as an empty result
          if (Files.exists(partial))
            Files.walk(partial).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      }
    }
    val threw = failed.result()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k) && !threw.exists(_.startsWith(s"$k: "))
    }
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracle))
    Files.writeString(out.resolve("failures.txt"), threw.map(_ + "\n").mkString)
    CheckResult(names.size, Nil)
  }

  // layer probes on the main table: the two columns a 2-D histogram bins
  private val probeAxes = Seq(Regular(100, 900.0, 105000.0), Regular(50, 0.5, 50.5))
  private val probeCols = Seq(col("l_extendedprice"), col("l_quantity"))
  override def scanned(spark: SparkSession): DataFrame = lineitem.select(probeCols: _*)
  override def projected(spark: SparkSession): DataFrame =
    lineitem.select(probeAxes.zip(probeCols).map { case (a, c) => a.binCol(c) }: _*)
  override def inputRows(spark: SparkSession): Long = lineitem.count()
  override def dims: Int = probeAxes.size
}

object Registry {
  /** `hist*` registry queries, frozen as a list: one per family of the
    * histogram surface (regular, variable and category axes; three
    * dimensions; weight storage with algebra; densify; quantiles; the
    * dense fast path). */
  val HistQueries: Seq[String] = Seq(
    "hist1d_regular", "hist1d_variable_1000", "hist_strcat", "hist3d_count",
    "hist_add_weight", "hist_density", "hist_quantiles_weighted", "hist_dense_fast2d")

  /** `graft.ops` queries: builds relations behind
    * `Checkpoints.lineageBarrier` (jobs that run while the query function
    * is called) and joins them through a hand-written broadcast gate
    * (`dedupBroadcastCap`). */
  val OpsQueries: Seq[String] = Seq("dedup_containment_join")
}

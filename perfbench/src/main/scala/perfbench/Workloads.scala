package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.CsvSources
import graft.ipf.Ipf
import graft.matrix.{CooMatrix, Dense, Marginals}
import graft.pipeline.CostAllocation

/** What a call sees: the session, its own freshly made input directory
  * (hard links to the staged inputs, so no per-path memo in the engine can
  * serve it from an earlier call), the pass it belongs to, and the sink
  * its outputs go to: the `noop` format in timed passes, parquet files in
  * the check pass. */
final case class Ctx(spark: SparkSession, dir: String, pass: Int, passDir: String,
    emit: (String, DataFrame) => Unit)

/** One timed call into a layer. `body` runs the call and materializes every
  * output; it returns the counts the harness reports (sweeps, cells).
  * `commit` marks the table writes whose commit latency is sampled. */
final case class Call(group: String, name: String, commit: Boolean = false)(
    val body: Ctx => Map[String, Double])

/** The outcome of one output check, made outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String)

object Workloads {

  /** Every output column is computed and the final ORDER BY runs; nothing
    * is written. `count()` would let Catalyst prune both. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def registry(group: String, q: String): Call =
    Call(group, q) { c => c.emit(q, SparkEntry.queries(q)(c.spark, c.dir)); Map.empty }

  // ---- ipf_alloc ----------------------------------------------------------

  /** Stopping threshold of the generated fits, in marginal units: twenty
    * currency units on the CSV trio's 150 000. */
  val GenThreshold = 20.0
  val MaxSweeps = 200
  /** The reference CSVs are the correctness anchor: run once per run, outside
    * the timed passes, as in PipelineSpec but capped at two sweeps, and
    * compared sweep for sweep with the [[Dense]] mirror. */
  val ReferenceThreshold = 1e-9
  val ReferenceMaxSweeps = 2

  private def trio(dir: String, prefix: String = ""): (String, String, String) =
    (s"$dir/${prefix}keywords.csv", s"$dir/${prefix}hours.csv", s"$dir/${prefix}visits.csv")

  def costMarginals(spark: SparkSession, dir: String, prefix: String = ""): (DataFrame, DataFrame) = {
    val (k, h, _) = trio(dir, prefix)
    (CostAllocation.keywordCosts(CsvSources.readKeywords(spark, k)),
      CostAllocation.hourCosts(CsvSources.readHours(spark, h)))
  }

  def allocate(spark: SparkSession, dir: String, prefix: String, threshold: Double,
      maxIter: Int): CostAllocation.Allocation = {
    val (k, h, v) = trio(dir, prefix)
    CostAllocation.run(spark, k, h, v, threshold = threshold, maxIter = maxIter)
  }

  def wideInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame, CooMatrix) =
    (spark.read.parquet(s"$dir/wide_x.parquet"), spark.read.parquet(s"$dir/wide_y.parquet"),
      CooMatrix(spark.read.parquet(s"$dir/wide_seed.parquet")))

  def fitWide(spark: SparkSession, dir: String, maxIter: Int): Ipf.Result = {
    val (x, y, seed) = wideInputs(spark, dir)
    Ipf.converge(x, y, seed, threshold = GenThreshold, maxIter = maxIter)
  }

  /** The cold pass's fits, kept for the checks: the check reads the very
    * outputs a timed call produced. */
  val coldFits = scala.collection.concurrent.TrieMap.empty[String, Ipf.Result]

  /** `cells` is the seed size of each generated fit, stated by the generator. */
  def ipfAlloc(genCells: Double, wideCells: Double): Seq[Call] = Seq(
    Call("pipeline.cost_allocation", "cost_allocation_generated") { c =>
      val a = allocate(c.spark, c.dir, "", GenThreshold, MaxSweeps)
      c.emit("matrix", a.matrix.df); c.emit("cost_per_visit", a.costPerVisit.df)
      if (c.pass == 0) coldFits("cost_allocation_generated") = Ipf.Result(a.matrix, a.loss, a.iterations)
      Map("sweeps" -> a.iterations.toDouble, "cells" -> genCells)
    },
    Call("ipf.converge_wide", "converge_wide") { c =>
      val r = fitWide(c.spark, c.dir, MaxSweeps)
      c.emit("matrix", r.matrix.df)
      if (c.pass == 0) coldFits("converge_wide") = r
      Map("sweeps" -> r.iterations.toDouble, "cells" -> wideCells)
    },
    registry("relational.ipf_chains", "q76_ipf_two_sweep"),
    registry("matrix.ops", "q17_matrix_multiply"))

  /** A fit's inputs as the driver-local [[Dense]] mirror takes them: rows
    * in `x`'s key order, columns in `y`'s, absent cells zero. */
  private def densify(x: DataFrame, y: DataFrame, seed: CooMatrix)
      : (Seq[Any], Seq[Any], Vector[Double], Vector[Double], Dense.Matrix) = {
    val xs = x.collect().map(r => r.get(0) -> r.getDouble(1)).sortBy(_._1.toString)
    val ys = y.collect().map(r => r.get(0) -> r.getDouble(1)).sortBy(_._1.toString)
    val cells = seed.df.collect().map(r => (r.get(0), r.get(1)) -> r.getDouble(2)).toMap
    val m = xs.map { case (i, _) => ys.map { case (j, _) => cells.getOrElse((i, j), 0.0) }.toVector }
    (xs.map(_._1).toSeq, ys.map(_._1).toSeq, xs.map(_._2).toVector, ys.map(_._2).toVector, m.toVector)
  }

  /** Checks a distributed fit against the [[Dense]] mirror of the reference
    * algorithm on the same inputs: the same number of sweeps, the same cells,
    * row and column residuals within the stopping threshold (unless the fit
    * hit its sweep cap), and the reported loss equal to `Marginals.rmse`
    * recomputed over the matrix one sweep before the end (the reference's
    * loss lags the returned matrix by one step). */
  def ipfCheck(name: String, x: DataFrame, y: DataFrame, seed: CooMatrix, fit: Ipf.Result,
      threshold: Double, maxIter: Int): Check = {
    val spark = x.sparkSession
    val (rows, cols, xv, yv, m) = densify(x, y, seed)
    val mirror = Dense.converge(xv, yv, m, threshold, maxIter)
    val before = Dense.converge(xv, yv, m, threshold, fit.iterations - 1).matrix
    val beforeDf = spark.createDataFrame(
      java.util.Arrays.asList((for { (r, i) <- rows.zipWithIndex; (c, j) <- cols.zipWithIndex }
        yield org.apache.spark.sql.Row(r, c, before(i)(j))): _*), seed.df.schema)
    val recomputed = Marginals.rmse(x, CooMatrix(beforeDf).sumRows)
    val got = fit.matrix.df.collect().map(r => (r.get(0), r.get(1)) -> r.getDouble(2)).toMap
    val cellErr = (for { (r, i) <- rows.zipWithIndex; (c, j) <- cols.zipWithIndex
      if m(i)(j) != 0.0 } yield math.abs(got.getOrElse((r, c), Double.NaN) - mirror.matrix(i)(j)))
      .foldLeft(0.0)((a, e) => if (e.isNaN || a.isNaN) Double.NaN else math.max(a, e))
    val total = xv.sum
    def residual(keys: Seq[Any], targets: Vector[Double], sums: Map[Any, Double]): Double =
      math.sqrt(keys.zip(targets).map { case (k, t) => math.pow(t - sums.getOrElse(k, 0.0), 2) }.sum)
    val rowRes = residual(rows, xv, got.groupMapReduce(_._1._1)(_._2)(_ + _))
    val colRes = residual(cols, yv, got.groupMapReduce(_._1._2)(_._2)(_ + _))
    val converged = fit.iterations < maxIter
    val ok = fit.iterations == mirror.iterations && cellErr <= 1e-8 * total &&
      math.abs(recomputed - fit.loss) <= 1e-9 * math.max(1.0, fit.loss) &&
      (!converged || (colRes <= threshold && rowRes <= math.max(threshold, fit.loss) * (1 + 1e-6)))
    Check(name, ok, f"sweeps=${fit.iterations} mirror_sweeps=${mirror.iterations} " +
      f"loss=${fit.loss}%.6e recomputed=$recomputed%.6e max_cell_error=$cellErr%.3e " +
      f"row_residual=$rowRes%.3e col_residual=$colRes%.3e threshold=$threshold%.1e")
  }

  private def trioSeed(spark: SparkSession, dir: String, prefix: String, x: DataFrame): CooMatrix = {
    val (_, _, v) = trio(dir, prefix)
    CostAllocation.padMissingKeywords(CsvSources.visitsCoo(CsvSources.readVisitsWide(spark, v)), x)
      .laplaceSmooth(1e-15)
  }

  /** The cold pass's generated fits, and the reference CSVs run once here as
    * the correctness anchor, each against the mirror. */
  def ipfAllocChecks(spark: SparkSession, dir: String): Seq[Check] = {
    val (x, y) = costMarginals(spark, dir)
    val (rx, ry) = costMarginals(spark, dir, "ref_")
    val (wx, wy, wseed) = wideInputs(spark, dir)
    val ref = allocate(spark, dir, "ref_", ReferenceThreshold, ReferenceMaxSweeps)
    Seq(
      ipfCheck("cost_allocation_generated", x, y, trioSeed(spark, dir, "", x),
        coldFits("cost_allocation_generated"), GenThreshold, MaxSweeps),
      ipfCheck("converge_wide", wx, wy, wseed, coldFits("converge_wide"), GenThreshold, MaxSweeps),
      ipfCheck("cost_allocation_reference", rx, ry, trioSeed(spark, dir, "ref_", rx),
        Ipf.Result(ref.matrix, ref.loss, ref.iterations), ReferenceThreshold, ReferenceMaxSweeps))
  }

  // ---- llm_curation -------------------------------------------------------

  def llmCuration: Seq[Call] = Seq(
    registry("llmdata.dedup", "q184_dup_spans"),
    registry("llmdata.similarity", "q45_cosine_topk"),
    registry("llmdata.text", "q272_shingle_novelty"),
    registry("functions.kernels", "q33_fingerprint"),
    registry("ml.fit", "q190_embedding_pca"))

  // ---- table_ops ----------------------------------------------------------

  /** The statement stream runs on one GLPR table per pass, reached through
    * a catalog registered for that pass. */
  val Appends = 6
  val SliceDocs = 100
  val TimeTravelVersion = 2
  private def catalog(c: Ctx): String = s"glpr_p${c.pass}"
  private def table(c: Ctx): String = s"${catalog(c)}.ops.t"
  private def docs(c: Ctx): String = s"parquet.`${c.dir}/documents.parquet`"
  private val Cols = "doc_id, lang, source, text"

  def registerCatalog(spark: SparkSession, pass: Int, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.glpr_p$pass", "graft.io.GlprCatalog")
    spark.conf.set(s"spark.sql.catalog.glpr_p$pass.root", root)
  }

  private def write(name: String)(stmt: Ctx => String): Call =
    Call("io.write", name, commit = true) { c => noop(c.spark.sql(stmt(c))); Map.empty }
  private def read(name: String)(q: Ctx => DataFrame): Call =
    Call("io.read", name) { c => c.emit(name, q(c)); Map.empty }

  def tablePath(c: Ctx): String = s"${c.passDir}/glpr/ops/t"

  def scanAgg(c: Ctx): DataFrame = c.spark.sql(
    s"SELECT lang, count(*) AS n_docs, sum(octet_length(text)) AS n_bytes, " +
      s"max(doc_id) AS max_id FROM ${table(c)} GROUP BY lang")
  def rangeRead(c: Ctx): DataFrame = c.spark.sql(
    s"SELECT $Cols FROM ${table(c)} WHERE doc_id >= 300 AND doc_id < 600")
  def timeTravel(c: Ctx): DataFrame = c.spark.sql(
    s"SELECT $Cols FROM ${table(c)} VERSION AS OF $TimeTravelVersion")
  def changes(c: Ctx): DataFrame = c.spark.read.format("graft.io.GlprSource")
    .option("changesFromVersion", "1").option("versionAsOf", TimeTravelVersion.toString)
    .load(tablePath(c)).selectExpr(Cols.split(", ").toIndexedSeq: _*)

  /** Streams the table's shards through the GLPR source, three shards per
    * micro-batch; returns the rows streamed. */
  def streamTable(c: Ctx): Long = {
    val s2 = c.spark.newSession()
    val rows = new java.util.concurrent.atomic.AtomicLong
    val q = s2.readStream.format("graft.io.GlprSource").option("maxShardsPerTrigger", "3")
      .load(tablePath(c))
      .writeStream
      .option("checkpointLocation", s"${c.dir}/stream-ckpt")
      .foreachBatch((b: DataFrame, _: Long) => { rows.addAndGet(b.count()); () })
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    rows.get
  }

  /** The table's rows after the script, dumped by the check pass. */
  def finalState(c: Ctx): DataFrame = c.spark.sql(s"SELECT $Cols FROM ${table(c)}")

  /** Upserts: every tenth document re-sourced, plus fifty new ids. */
  private def mergeSource(docs: String): String =
    s"SELECT doc_id, lang, 'merged' AS source, text FROM $docs WHERE doc_id % 10 = 3 " +
      s"UNION ALL SELECT doc_id + 100000 AS doc_id, lang, 'new' AS source, text FROM $docs " +
      "WHERE doc_id < 50"

  /** The statement stream. `run.py`'s TABLE_ORACLE replays it in DuckDB:
    * keep the two in step. */
  def tableOps: Seq[Call] =
    Seq(write("create")(c =>
      s"CREATE TABLE ${table(c)} (doc_id BIGINT, lang STRING, source STRING, text STRING)")) ++
    (0 until Appends).map(i => write(s"append_$i")(c =>
      s"INSERT INTO ${table(c)} SELECT $Cols FROM ${docs(c)} " +
        s"WHERE doc_id >= ${i * SliceDocs} AND doc_id < ${(i + 1) * SliceDocs}")) ++
    Seq(
      read("scan_agg")(scanAgg),
      read("range_read")(rangeRead),
      read("time_travel")(timeTravel),
      read("changes")(changes),
      Call("streaming.glpr", "stream_table") { c =>
        val n = streamTable(c)
        c.emit("stream_table", c.spark.range(1).select(lit(n).as("rows")))
        Map.empty
      },
      write("overwrite")(c =>
        s"INSERT OVERWRITE ${table(c)} SELECT $Cols FROM ${docs(c)} WHERE doc_id % 4 <> 0"),
      write("delete")(c => s"DELETE FROM ${table(c)} WHERE lang = 'de'"),
      write("update")(c => s"UPDATE ${table(c)} SET source = 'u' WHERE doc_id % 10 = 1"),
      write("merge")(c => s"MERGE INTO ${table(c)} t USING (${mergeSource(docs(c))}) u " +
        "ON t.doc_id = u.doc_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
      write("compact")(c => s"CALL ${catalog(c)}.sys.compact('ops.t', ${Long.MaxValue / 2})"),
      read("scan_agg_final")(scanAgg)) ++
    Seq(registry("streaming.events", "q89_streaming_dedup"))
}

package graft.promql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The stages of one query-API request as separate calls, so the
  * benchmark harness can time parse, DataFrame construction, physical
  * planning and execution from outside the engine. Each `compile*` call
  * builds the relation [[Api.queryJson]] / [[Api.queryRangeJson]]
  * collects — one rendered JSON fragment per row — so planning and
  * collecting it is the request's own plan and execution, and what is
  * left of the API call is the envelope assembly.
  */
object LayerProbe {

  def parse(query: String): Ast = Parser.parse(query)

  /** The instant request's collected relation, evaluated at `timeS`
    * (None = the corpus instant), as [[Api.queryJson]] builds it.
    */
  def compileInstant(spark: SparkSession, dir: String, ast: Ast,
      timeS: Option[Long]): DataFrame = {
    val t = Compiler.instantSeconds(spark, dir)
    val df = Compiler.compileShifted(spark, dir, ast,
      timeS.map(t.toLong - _).getOrElse(0L))
    val labelCols = df.columns.filter(_ != "value").toSeq
    val renderT: Any = timeS.getOrElse(t)
    val metric =
      if (labelCols.isEmpty) lit("{}")
      else to_json(struct(labelCols.map(c => col(c).as(promLabel(c))): _*))
    df.select(concat(lit("{\"metric\":"), metric,
      lit(s""","value":[$renderT,""""), col("value").cast("string"),
      lit("\"]}")).as("j"))
  }

  /** The range request's collected relation, as [[Api.queryRangeJson]]
    * builds it: the matrix relation (pyramid when `maxSourceResS` is
    * set, then dense grid, then the per-instant union), its per-series
    * sample aggregate ordered by series, and the rendered fragments.
    */
  def compileRange(spark: SparkSession, dir: String, ast: Ast,
      startS: Long, endS: Long, stepS: Long,
      maxSourceResS: Option[Long]): DataFrame = {
    val unioned = Api.rangeRelation(spark, dir,
      Ast.resolveAtEdges(ast, Some(startS), Some(endS)),
      startS, endS, stepS, grid = true, maxSourceResS)
    Api.seriesSamples(unioned)
      .groupBy(col("m"))
      .agg(array_join(expr("transform(array_sort(collect_list(struct(_t, s))), x -> x.s)"),
        ",").as("vals"))
      .orderBy(col("m"))
      .select(concat(lit("{\"metric\":"), col("m"),
        lit(",\"values\":["), col("vals"), lit("]}")).as("j"))
  }

  /** Physical label column → PromQL label name, as the API renders it. */
  private def promLabel(c: String): String = c match {
    case "name" => "__name__"
    case l if l.startsWith("label_") => l.stripPrefix("label_")
    case other => other
  }

  /** Whether the rollup router answers this range request. */
  def pyramidRoutes(spark: SparkSession, dir: String, ast: Ast,
      startS: Long, endS: Long, stepS: Long, maxSourceResS: Long): Boolean = {
    val edges = Ast.resolveAtEdges(ast, Some(startS), Some(endS))
    val resolved = Ast.resolveAtEdges(
      Compiler.inlineRecorded(spark, dir, edges), Some(startS), Some(endS))
    Pyramid.rangeEval(spark, dir, resolved, startS, endS, stepS,
      maxSourceResS).isDefined
  }
}

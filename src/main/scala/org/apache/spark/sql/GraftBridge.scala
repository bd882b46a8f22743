package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into Spark 4's `private[sql]` Column<->Expression converters,
  * the supported pattern for libraries that add custom Catalyst
  * expressions (the public `Column(expr)` constructor was removed when
  * Column moved to the connect-agnostic api module).
  */
/** Public bridge to the `private[sql]` V1-fallback table trait:
  * Spark's streaming writer/reader take the V1 route
  * (`DataSource.createSink`/`createSource`) for catalog tables that
  * expose a `v1Table` descriptor — the supported pattern pre-DSv2
  * sinks (Delta's included) use for `writeStream.toTable`. */
trait GraftV1FallbackTable
    extends connector.catalog.V2TableWithV1Fallback

object GraftBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Force-compile an expression's generated code (throws on janino
    * failure instead of Spark's silent interpreted fallback) and
    * evaluate it against one row of literal inputs — lets specs assert
    * that doGenCode emits valid Java for every admitted input type. */
  def compileAndEval(e: Expression): Any = {
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateMutableProjection.generate(Seq(e), Nil)
    proj(org.apache.spark.sql.catalyst.InternalRow.empty).get(0, e.dataType)
  }

  /** A bare session (fresh extension-free state) on an existing
    * context — measurement harnesses (graft.examples.ExtensionOverhead)
    * compare plan time with and without the graft extension stack
    * inside ONE JVM; the one-context-arg constructor is
    * `private[sql]`. */
  def bareSession(sc: org.apache.spark.SparkContext): SparkSession =
    new classic.SparkSession(sc)

  /** Wrap a resolved logical plan as a DataFrame (the `Dataset.ofRows`
    * entry point is `private[sql]`). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame (`queryExecution`
    * is `classic`-side in Spark 4). */
  def planOf(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Execute a DataFrame as its InternalRow RDD (`toRdd`) — the
    * no-conversion exit for V1 relations with `needConversion=false`:
    * the inner plan stays columnar/codegen and rows cross the source
    * boundary without the InternalRow -> Row -> InternalRow trip. */
  def toInternalRdd(df: DataFrame): org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Resolve + type-coerce a Column predicate against a schema — the
    * analyzed condition a real read's `filter` would push, with
    * literals cast to the column types (so driver-side pruning
    * compares like-typed values). Analysis over a zero-row local
    * relation: no job, no files. */
  def analyzedCondition(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      predicate: Column):
      org.apache.spark.sql.catalyst.expressions.Expression = {
    val empty = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema))
    val analyzed = ofRows(spark, empty).filter(predicate)
      .asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(throw new IllegalStateException(
      s"no filter condition in analyzed plan:\n$analyzed"))
    // Fold constant subtrees (type coercion wraps SQL literals in
    // casts — `k < 180` against a BIGINT column analyzes to
    // `k < cast(180 as bigint)`): the pruning matchers compare
    // against bare literals, exactly what they'd see from the read
    // path where the optimizer folds before pushdown.
    cond.transformUp {
      case e: org.apache.spark.sql.catalyst.expressions.Literal => e
      case e if e.foldable =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(e.eval(), e.dataType)
    }
  }

  /** A DataFrame over pre-computed InternalRows marked
    * `isStreaming = true` — what a V1 streaming `Source.getBatch`
    * must return (MicroBatchExecution asserts the flag). The same
    * `internalCreateDataFrame` exit the built-in Kafka source uses. */
  def streamingDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Re-wrap a STREAMING micro-batch DataFrame as a batch one (same
    * InternalRow plan, `isStreaming = false`) so a V1 `Sink.addBatch`
    * can hand it to a batch writer — the standard sink-side twin of
    * [[streamingDataFrame]]. */
  def asBatchDataFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** V2 `Predicate` → V1 `sources.Filter` (the `private[sql]`
    * `PredicateUtils.toV1`): the strict-translation entry the
    * catalog's `SupportsDeleteV2` uses before mapping filters onto
    * deletion-vector predicates. */
  def predicateToV1Filter(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate):
      Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Type equality modulo nullability at every nesting level (the
    * `private[sql]` `DataType.sameType`): schema compatibility checks
    * must not reject `array<int>` against `array<int>` over an
    * element-nullability bit the parquet roundtrip flips anyway. */
  def sameTypeIgnoreNullability(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** The schema `spark.read.parquet(file).schema` gives for a file
    * with this footer, decoded on the driver with no job: the decode
    * Spark's schema inference runs per file (the footer's Spark row
    * metadata, else the parquet schema under the session's conf),
    * made nullable as `DataSource` makes a file relation's schema. */
  def footerSchema(
      spark: SparkSession, footer: org.apache.parquet.hadoop.Footer): StructType = {
    import execution.datasources.parquet._
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    asNullable(ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(conf)))
  }

  /** Drop the blocks behind a `localCheckpoint()`ed frame (the RDDs
    * of its `LogicalRDD` leaves) now, not whenever the ContextCleaner
    * collects them; the frame must not be read afterwards. */
  def releaseLocalCheckpoint(df: DataFrame): Unit =
    planOf(df).collect { case r: execution.LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Every field nullable at every nesting level (the `private[spark]`
    * `StructType.asNullable`), the form a file relation reads back. */
  def asNullable(s: StructType): StructType = s.asNullable

  /** Register a function builder on an EXISTING session (the
    * `withExtensions` path only applies at session construction). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}

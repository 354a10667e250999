package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, InSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{LongType, StructType}

/** A driver-side fold as a logical operator: at execution time it
  * collects its child's rows in one bounded read (`limit(cap + 1)`),
  * and folds them on the driver into its output rows. More than `cap`
  * rows, or a fold that declines its input (`None`), runs the
  * `fallback` plan instead. The valve decision is made from the
  * child's actual size, inside the caller's one SQL execution, so a
  * frame built on this node stays lazy: building it runs no job.
  *
  * `run` and `fallback` must produce rows of the node's schema. The
  * fallback is built only when it runs. Both run on the driver only: a
  * plan serialized into a task carries neither.
  */
final class Fold(val name: String, val cap: Int,
                 @transient val run: IndexedSeq[Row] => Option[Seq[Row]],
                 @transient val fallback: () => DataFrame)
    extends Serializable {
  override def toString: String = s"$name(cap=$cap)"
}

final case class DriverFoldPlan(child: LogicalPlan, output: Seq[Attribute],
                                fold: Fold) extends UnaryNode {
  // the fold reads every child column: column pruning must keep them
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet

  override protected def withNewChildInternal(
      newChild: LogicalPlan): DriverFoldPlan = copy(child = newChild)
}

/** Physical [[DriverFoldPlan]]. A collect (or a `limit` collect) of the
  * node runs exactly the child's bounded read; any other consumer gets
  * the folded rows as a one-partition RDD.
  */
final case class DriverFoldExec(output: Seq[Attribute], child: SparkPlan,
                                fold: Fold) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet

  override def executeCollect(): Array[InternalRow] = {
    val read = child.executeTake(fold.cap + 1)
    val folded =
      if (read.length > fold.cap) None
      else {
        val toRow = CatalystTypeConverters.createToScalaConverter(child.schema)
        fold.run(read.toIndexedSeq.map(toRow(_).asInstanceOf[Row]))
      }
    val rows = folded.getOrElse(fold.fallback().collect().toSeq)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val unsafe = UnsafeProjection.create(schema)
    rows.iterator.map(r =>
      unsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy()).toArray
  }

  override def executeTake(n: Int): Array[InternalRow] =
    executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(
      newChild: SparkPlan): DriverFoldExec = copy(child = newChild)
}

class DriverFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DriverFoldPlan(child, output, fold) =>
      DriverFoldExec(output, planLater(child), fold) :: Nil
    case _ => Nil
  }
}

object DriverFold {

  /** The ceiling on the rows a driver fold materializes, each read with
    * `limit(cap + 1)`:
    *
    *  - [[graft.ext.VectorIndex.query]] collects at most this / (m·ksub)
    *    query rows, since its dtable fold builds |Q|·m·ksub rows from
    *    them, and at most this many probed codes rows for its rank fold;
    *  - the store-fed lexical leg collects at most this many postings
    *    rows, and holds the lengths and tombstone dirs only while each
    *    has at most this many rows;
    *  - the catalog's aggregate and join reads
    *    ([[graft.catalog.CatalogOps.lastEndTimes]],
    *    [[graft.catalog.CatalogOps.sessionDiff]]) fold at most this many
    *    table records;
    *  - every other serving-path collect (legs, candidates, fetches,
    *    query vectors) is capped here too.
    *
    * Serving requests and catalogs are small by contract. Past the cap
    * a fold with a distributed form runs it (same values); one without
    * fails with [[FoldCapExceeded]].
    */
  val MaxRows: Int = 1 << 16

  private val capOverride = new scala.util.DynamicVariable[Option[Int]](None)

  /** The fold cap in force: [[MaxRows]], unless a spec runs under
    * [[withCap]].
    */
  def cap: Int = capOverride.value.getOrElse(MaxRows)

  /** Run `body` with every driver fold capped at `cap` rows — the
    * specs' way to force each fold both ways at the cap.
    */
  private[graft] def withCap[T](cap: Int)(body: => T): T =
    capOverride.withValue(Some(cap))(body)

  /** A lazy frame of `schema` whose collect folds `child`'s rows on the
    * driver, or runs `fallback` past the cap (see [[DriverFoldPlan]]).
    * A `child` with one partition is read by one Spark job.
    */
  def frame(child: DataFrame, schema: StructType, name: String, cap: Int)(
      run: IndexedSeq[Row] => Option[Seq[Row]])(
      fallback: => DataFrame): DataFrame = {
    val spark = child.sparkSession
    ensureStrategy(spark)
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      DriverFoldPlan(child.queryExecution.analyzed,
        DataTypeUtils.toAttributes(schema),
        new Fold(name, cap, run, () => fallback)))
  }

  /** `c IN values` for BIGINT ids, as one set-membership expression:
    * it pushes into a parquet scan like `isin`, but its plan holds no
    * expression per value, so a batch-sized id list costs no per-id
    * planning. Not a general `isin`: the raw expression skips the
    * analyzer's coercion, so `c` is cast to BIGINT (a no-op the
    * optimizer drops on a BIGINT column) and the values are Longs.
    */
  def isIn(c: Column, values: Iterable[Long]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(InSet(
      org.apache.spark.sql.GraftColumnBridge.expression(c.cast(LongType)),
      values.toSet[Any]))

  /** `df`'s rows when there are at most `cap` of them, read with
    * `limit(cap + 1)`; None past the cap.
    */
  def collect(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** [[collect]] for a fold with no distributed form: past the cap it
    * fails with [[FoldCapExceeded]], naming `what`.
    */
  def collectOrFail(df: DataFrame, cap: Int, what: String): Array[Row] =
    collect(df, cap).getOrElse(throw new FoldCapExceeded(what, cap))

  /** Ensure the planner knows the operator on sessions built without
    * [[graft.GraftExtensions]]; idempotent.
    */
  def ensureStrategy(spark: SparkSession): Unit = synchronized {
    val es = spark.experimental.extraStrategies
    if (!es.exists(_.isInstanceOf[DriverFoldStrategy]))
      spark.experimental.extraStrategies = es :+ new DriverFoldStrategy
  }
}

/** A bounded driver-side read found more rows than its fold may hold,
  * and the fold has no distributed form to fall back to.
  */
final class FoldCapExceeded(what: String, cap: Int)
  extends IllegalStateException(
    s"$what: more than $cap rows (the read stopped at ${cap + 1}), past " +
      "the driver-fold cap; serving requests are small by contract — " +
      "split the request")

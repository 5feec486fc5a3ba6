package graft.core

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.StructType

/** The pipeline DSL — the reference's task/DAG surface re-expressed on
  * Spark's lazy, set-oriented model (SURVEY.md §2.1 C1–C8).
  *
  * A [[Stage]] is a named, pure `DataFrame => DataFrame`; a [[Pipeline]]
  * is an ordered composition of stages. Where the reference pushes one
  * Python object through a task graph eagerly, here each stage contributes
  * to ONE Catalyst logical plan and nothing executes until an action —
  * so Catalyst optimizes across stage boundaries (filter pushdown through
  * earlier stages, column pruning of stage-internal columns, etc.) and the
  * composed plan distributes like any hand-written query.
  */
final class Stage(val name: String, val f: DataFrame => DataFrame) {
  def apply(df: DataFrame): DataFrame = f(df)
  /** Chain: this stage feeds `next` (reference `>>` operator). */
  def >>(next: Stage): Pipeline = Pipeline(Vector(this, next))
  def >>(next: Pipeline): Pipeline = Pipeline(this +: next.stages, next.listeners)
  override def toString: String = s"Stage($name)"
}

object Stage {
  def apply(name: String)(f: DataFrame => DataFrame): Stage = new Stage(name, f)
  /** Identity stage — useful as a DAG anchor. */
  val identity: Stage = Stage("identity")(df => df)
}

/** Observability hooks around each stage (reference callbacks, C7).
  * These fire at plan-construction time for start/complete and wrap
  * analysis errors; use `QueryExecutionListener` for post-execution
  * metrics — plan construction is the spype-equivalent "run" boundary
  * in a lazy engine.
  */
trait PipelineListener {
  def onStageStart(stage: String): Unit = ()
  def onStageComplete(stage: String, out: DataFrame): Unit = ()
  def onStageError(stage: String, error: Throwable): Unit = ()
}

/** Signals which stage broke the DAG and why (reference wiring-time
  * type-hint validation, C5 — here it is schema/analysis validation). */
final case class StageValidationException(
    stage: String, cause: Throwable)
  extends RuntimeException(s"stage '$stage' failed validation: ${cause.getMessage}", cause)

final case class Pipeline(
    stages: Vector[Stage],
    listeners: Vector[PipelineListener] = Vector.empty) {

  def >>(s: Stage): Pipeline = copy(stages = stages :+ s)
  def >>(p: Pipeline): Pipeline = copy(stages = stages ++ p.stages)
  def withListener(l: PipelineListener): Pipeline = copy(listeners = listeners :+ l)

  /** Apply every stage in order, building one composed logical plan.
    * Analysis errors (missing/ill-typed columns) surface here — before
    * any action runs — tagged with the offending stage.
    */
  def apply(df: DataFrame): DataFrame =
    stages.foldLeft(df) { (acc, s) =>
      listeners.foreach(_.onStageStart(s.name))
      val out =
        try s(acc)
        catch {
          case e: Throwable =>
            listeners.foreach(_.onStageError(s.name, e))
            throw StageValidationException(s.name, e)
        }
      listeners.foreach(_.onStageComplete(s.name, out))
      out
    }

  /** Pre-flight validation without executing anything: compose the plan,
    * force analysis, return the output schema — the Spark-native analogue
    * of the reference's validate-before-run pass.
    */
  def validate(df: DataFrame): Either[StageValidationException, StructType] =
    try {
      val out = apply(df)
      out.queryExecution.assertAnalyzed()
      Right(out.schema)
    } catch {
      case e: StageValidationException => Left(e)
      case e: AnalysisException => Left(StageValidationException("<analysis>", e))
    }
}

object Pipeline {
  def apply(stages: Stage*): Pipeline = Pipeline(stages.toVector)

  /** Fan-out (C3): feed one DataFrame to several branches. The fork point
    * is kept cached ([[graft.CacheScope]]) so branch actions don't
    * recompute the shared prefix — the lazy-engine analogue of the
    * reference duplicating an object to multiple downstream tasks.
    */
  def fanOut(df: DataFrame, branches: Map[String, Pipeline]): Map[String, DataFrame] = {
    val shared = if (branches.size > 1) graft.CacheScope.keep(df) else df
    branches.map { case (name, p) => name -> p(shared) }
  }

  /** Fan-in (C4) for homogeneous branches: union by column name. */
  def fanInUnion(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))

  /** Fan-in (C4) for keyed branches: multi-way equi-join on `keys`. */
  def fanInJoin(keys: Seq[String], joinType: String = "inner")(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce((a, b) => a.join(b, keys, joinType))

  /** Conditional routing (C6): rows matching `cond` flow through
    * `ifTrue`, the rest through `ifFalse`; outputs re-merge by name.
    * Branch pipelines must converge to union-compatible schemas —
    * `validate` catches divergence pre-flight. The input is kept cached
    * ([[graft.CacheScope]]): both branches read it.
    */
  def route(cond: org.apache.spark.sql.Column, ifTrue: Pipeline, ifFalse: Pipeline)(
      df: DataFrame): DataFrame = {
    val shared = graft.CacheScope.keep(df)
    // null-safe split: a null predicate must route somewhere (the false
    // branch), or rows vanish — filter(c) and filter(!c) BOTH drop nulls
    ifTrue(shared.filter(cond <=> true)).unionByName(ifFalse(shared.filter(!(cond <=> true))))
  }

  /** Dead-letter split (C7 error policy): rows satisfying `isValid`
    * continue; the rest are returned separately for a quarantine sink.
    * Row-level "exceptions" in a vectorized engine are predicates, not
    * throws — anything that would throw (bad cast, malformed JSON) is
    * expressed with try_/null-safe functions and caught here. The input
    * is kept cached, as in [[route]].
    */
  def deadLetter(df: DataFrame, isValid: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val shared = graft.CacheScope.keep(df)
    // try_/null-safe expressions signal "bad row" with NULL — exactly the
    // rows this split exists to quarantine. A plain filter(isValid) /
    // filter(!isValid) pair drops them from BOTH sides (ok ∪ dead ≠ input);
    // the null-safe comparison sends null-predicate rows to the dead side.
    (shared.filter(isValid <=> true), shared.filter(!(isValid <=> true)))
  }
}

/** Runtime context injected into context-aware stages (C8 — the
  * reference's fixture mechanism): session, run identity, free-form conf.
  */
final case class PipelineContext(
    spark: org.apache.spark.sql.SparkSession,
    runId: String,
    conf: Map[String, String] = Map.empty)

object PipelineContext {
  /** Context-aware stage factory: `CtxStage("s") { ctx => df => ... }`. */
  def stage(name: String)(f: PipelineContext => DataFrame => DataFrame)(
      implicit ctx: PipelineContext): Stage =
    Stage(name)(f(ctx))
}

package graft

/** Plan-only switch for plan-dump tooling (r12, r11 ADVICE).
  *
  * Several operators persist a shared intermediate (exact-class frames,
  * member maps, cell counts) and eagerly `count()` it AT QUERY-BUILD
  * time, because their consumers launch concurrently and an
  * unmaterialized cache makes each racing consumer duplicate the full
  * upstream pass (measured in r11: seven racing ~40 s corpus aggregates
  * in q143 before the eager count). The side effect: merely BUILDING
  * such a query executes jobs, so plan-dump tools (Plans / PlanSummary)
  * silently paid full corpus aggregations per dump.
  *
  * Their session (`tools.Plans.session`) sets `planOnly = true`: the
  * eager counts are skipped — building a query then runs no jobs —
  * while every execution path (Bench, Verify, ScaleCheck, the pipeline)
  * keeps the default `false` and the race-proof materialization.
  */
object PlanMode {
  @volatile var planOnly: Boolean = false

  /** Persist `df` and, unless in plan-only mode, materialize it now so
    * concurrent consumers read the cache instead of racing to build it. */
  def eager[T](ds: org.apache.spark.sql.Dataset[T]): ds.type = {
    ds.persist()
    if (!planOnly) ds.count()
    ds
  }
}

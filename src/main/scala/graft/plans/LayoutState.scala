package graft.plans

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** What one Spark application may serve from its staged layouts: every
  * kind's registrations ([[LayoutRegistry]]), the table redirects
  * ([[graft.Tables.redirect]]) and the freshness declines already
  * logged ([[Freshness.check]]). One state per `SparkContext`, the
  * lifetime of the shared catalog the staged tables live in: every
  * session on a context (`newSession()`, the `cloneSession()` copies
  * streaming micro-batches run on) sees the same layouts, and the
  * session a new context brings up after `spark.stop()` sees none — its
  * catalog may not have those tables. The context is held weakly, so a
  * stopped context's state goes with it. A state is created on first
  * use, never while a session is being built. */
private[graft] final class LayoutState {
  /** (data dir, table name) → the staged catalog table serving it. */
  val redirects = new ConcurrentHashMap[(String, String), String]()
  /** (kind, catalog table) → its registration. */
  private[plans] val layouts = new ConcurrentHashMap[(LayoutRegistry, String), Registered[_]]()
  /** Tags whose freshness decline was already logged. */
  private[plans] val warned = ConcurrentHashMap.newKeySet[String]()
}

private[graft] object LayoutState {
  private val states = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, LayoutState]())

  def apply(spark: SparkSession): LayoutState =
    states.computeIfAbsent(spark.sparkContext, _ => new LayoutState)
}

/** One registration of `meta`, with a rollup's measures once
  * [[RewriteMaterializedAgg]] parsed them (a refresh re-registers). */
private[plans] final class Registered[M](val meta: M) {
  @volatile var parsed: Option[MaterializedAggs.Parsed] = None
}

/** What every staged-layout kind ([[MaterializedJoins]],
  * [[MaterializedAggs]]) shares: its registrations in a session's
  * [[LayoutState]], keyed by catalog table, and the session flag that
  * switches its rewrite off. */
private[plans] trait LayoutRegistry {
  type Meta
  protected def tableOf(meta: Meta): String
  protected def flag: String
  protected def metaOf(catalogTable: String, rec: Freshness.Record): Meta

  /** The [[Meta]] recorded beside `catalogTable`'s files, neither
    * registered nor validated (the kind's attach adds those guards). */
  def recorded(spark: SparkSession, catalogTable: String): Meta = metaOf(catalogTable,
    Freshness.recordAt(spark, graft.sources.GraftFiles.locationOf(spark, catalogTable).toString))

  def register(spark: SparkSession, meta: Meta): Unit =
    LayoutState(spark).layouts.put((this, tableOf(meta)), new Registered(meta))
  def deregister(spark: SparkSession, catalogTable: String): Unit =
    LayoutState(spark).layouts.remove((this, catalogTable))

  /** This kind's registrations in `spark`'s state, by catalog table. */
  private[plans] def registered(spark: SparkSession): Seq[Registered[Meta]] = {
    import scala.jdk.CollectionConverters._
    LayoutState(spark).layouts.asScala.toSeq.collect {
      case ((kind, _), r) if kind eq this => r.asInstanceOf[Registered[Meta]]
    }.sortBy(r => tableOf(r.meta))
  }
  def all(spark: SparkSession): Seq[Meta] = registered(spark).map(_.meta)

  private[plans] def enabled(conf: org.apache.spark.sql.internal.SQLConf): Boolean =
    conf.getConfString(flag, "true") == "true"

  /** Scoped registration for gate closures: register, build (and
    * FORCE-OPTIMIZE — the plan must be rewritten while the metas are
    * live; QueryExecution caches the optimized plan, so later execution
    * keeps the rewrite), deregister. Gates run inside multi-query mains
    * (Verify, Bench) where a lasting registration would silently
    * rewrite every OTHER query over the same base paths. */
  def withRegistered(spark: SparkSession, metas: Seq[Meta])(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    metas.foreach(register(spark, _))
    try {
      val df = build
      df.queryExecution.optimizedPlan // force while registered
      df
    } finally metas.foreach(m => deregister(spark, tableOf(m)))
  }

  /** True iff `df`'s optimized plan reads catalog table `catalogTable`
    * — the "did the rewrite fire" probe gates and specs pin on. */
  def fired(df: org.apache.spark.sql.DataFrame, catalogTable: String): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.catalogTable.exists(_.identifier.table == catalogTable) => lr
    }.nonEmpty

  /** Run a staging write with this kind's rewrite switched off: the
    * staging query is itself a shape the rewrite serves, and a
    * previously registered overlapping layout must not serve it. */
  protected def withRuleOff[T](spark: SparkSession)(body: => T): T = {
    val saved = spark.conf.getOption(flag)
    spark.conf.set(flag, "false")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(flag, v)
      case None => spark.conf.unset(flag)
    }
  }
}

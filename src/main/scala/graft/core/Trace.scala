package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs an operator runs, so its cost can be read off the
  * engine's own events instead of a rig that re-spells the operator.
  *
  * `Trace.scope("dedup.components") { … }` adds a job tag
  * (`SparkContext.addJobTag`) to the calling thread for the duration of
  * the body. Spark copies the submitting thread's local properties into
  * every job, and carries them onto the pools that run AQE stage jobs and
  * broadcast exchanges — so those jobs carry the tag too, where call-site
  * attribution (`StageInfo.details`) loses the operator frame.
  *
  * A nested scope swaps out only the tag of the scope it opened inside and
  * puts it back on exit, so the innermost open scope names the job. Tags
  * the scope did not add — Spark's own, a caller's — are never touched,
  * and the tag comes off when the body throws or an operator's early
  * `return` leaves it.
  *
  * The tag, `graft-scope-<id>-<opened epoch ms>-<name>`, names one
  * opening of the scope; [[scopeOf]] reads it back from a job's
  * properties, and `graft.Probes stages` folds every stage into it. Work
  * a scope leaves lazy is charged to whichever scope first materializes
  * it. Always on: a few local-property writes per call, no listener and
  * no conf. */
object Trace {
  val TagPrefix = "graft-scope-"
  /** The local property Spark stores a thread's job tags under. */
  val JobTagsProperty = "spark.job.tags"

  private val seq = new AtomicLong
  // the tags this thread's open scopes added, innermost first
  private val open = ThreadLocal.withInitial[List[String]](() => Nil)

  def scope[T](name: String)(body: => T): T = {
    require(name.nonEmpty && !name.contains(','), s"bad scope name: '$name'")
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => body
      case Some(spark) =>
        val sc = spark.sparkContext
        val outer = open.get()
        val tag = s"$TagPrefix${seq.incrementAndGet()}-${System.currentTimeMillis()}-$name"
        outer.headOption.foreach(sc.removeJobTag)
        sc.addJobTag(tag)
        open.set(tag :: outer)
        try body
        finally {
          open.set(outer)
          sc.removeJobTag(tag)
          outer.headOption.foreach(sc.addJobTag)
        }
    }
  }

  /** One opening of a scope, at `openedMs` (epoch ms, the clock of
    * Spark's listener events). `id` grows with every opening in the JVM,
    * so of two scopes open on one thread the inner has the larger id. */
  final case class Scope(id: Long, openedMs: Long, name: String)

  /** The scope named by a job's `spark.job.tags` value (null-safe). A
    * pool thread can hold a tag inherited when it was created as well as
    * its own; the newest tag is the innermost scope. */
  def scopeOf(jobTags: String): Option[Scope] =
    Option(jobTags).toSeq.flatMap(_.split(",")).filter(_.startsWith(TagPrefix))
      .flatMap { t =>
        t.stripPrefix(TagPrefix).split("-", 3) match {
          case Array(id, ms, name) =>
            for (i <- id.toLongOption; m <- ms.toLongOption) yield Scope(i, m, name)
          case _ => None
        }
      }
      .maxByOption(_.id)
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graftglue.BusGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.core.Trace

/** The job-tag scope behind `Probes stages`: which jobs a scope names,
  * and which tags it leaves alone. */
class TraceSpec extends SparkSpec {

  /** (graft scope, all tags) of every job started by `body` on this
    * thread — selected by a caller tag of its own, which every one of
    * those jobs must carry through the scopes untouched. */
  private def jobsOf(body: => Unit): Seq[(Option[String], Set[String])] = {
    val sc = spark.sparkContext
    val callerTag = s"trace-spec-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.jobId, e.properties.getProperty(Trace.JobTagsProperty, "")))
    }
    sc.addSparkListener(l)
    sc.addJobTag(callerTag)
    try body
    finally {
      sc.removeJobTag(callerTag)
      BusGlue.waitUntilEmpty(sc, 30000)
      sc.removeSparkListener(l)
    }
    seen.asScala.toSeq.sortBy(_._1).map { case (_, tags) =>
      (Trace.scopeOf(tags).map(_.name), tags.split(",").toSet)
    }.filter(_._2(callerTag))
  }

  private def graftTags: Set[String] =
    spark.sparkContext.getJobTags().filter(_.startsWith(Trace.TagPrefix))

  test("a scope's tag reaches AQE shuffle jobs and broadcast-exchange jobs") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val jobs = jobsOf {
      Trace.scope("spec.join") {
        val facts = spark.range(0, 20000).select((col("id") % 50).as("k"), col("id"))
        val dim = spark.range(0, 50).select(col("id").as("k"), (col("id") * 2).as("w"))
        facts.groupBy("k").agg(sum("id").as("s"))
          .join(broadcast(dim), "k")
          .write.format("noop").mode("overwrite").save()
      }
    }
    // a broadcast exchange runs its job from a pool thread under a tag
    // of its own; the AQE shuffle stage runs as a map-stage job ahead of
    // the result job
    def broadcastJob(tags: Set[String]) = tags.exists(_.startsWith("broadcast exchange"))
    assert(jobs.exists(j => broadcastJob(j._2)), jobs)
    assert(jobs.count(j => !broadcastJob(j._2)) >= 2, jobs)
    assert(jobs.forall(_._1.contains("spec.join")), jobs)
  }

  test("nested scopes charge the innermost scope") {
    val jobs = jobsOf {
      Trace.scope("spec.outer") {
        spark.range(0, 10).count()
        Trace.scope("spec.inner")(spark.range(0, 10).count())
        spark.range(0, 10).count()
      }
      spark.range(0, 10).count()
    }
    // each count runs a map-stage job and a result job; collapse runs of
    // the same scope
    val scopes = jobs.map(_._1).foldLeft(Vector.empty[Option[String]]) { (acc, s) =>
      if (acc.lastOption.contains(s)) acc else acc :+ s
    }
    assert(scopes == Seq(Some("spec.outer"), Some("spec.inner"), Some("spec.outer"), None))
    // one graft tag per job: the inner scope swapped its outer one out
    assert(jobs.forall(_._2.count(_.startsWith(Trace.TagPrefix)) <= 1), jobs)
  }

  test("a caller's own job tag survives the scope untouched") {
    val sc = spark.sparkContext
    sc.addJobTag("caller-own")
    try {
      Trace.scope("spec.a") {
        assert(sc.getJobTags()("caller-own"))
        Trace.scope("spec.b")(assert(sc.getJobTags()("caller-own")))
      }
      assert(sc.getJobTags()("caller-own"))
      assert(graftTags.isEmpty)
    } finally sc.removeJobTag("caller-own")
  }

  test("the tag comes off when the body throws") {
    intercept[IllegalStateException] {
      Trace.scope("spec.boom")(throw new IllegalStateException("boom"))
    }
    assert(graftTags.isEmpty)
    Trace.scope("spec.outer") {
      intercept[IllegalStateException] {
        Trace.scope("spec.inner")(throw new IllegalStateException("boom"))
      }
      // the outer scope's tag is back, and it is the only one
      assert(graftTags.toSeq.flatMap(Trace.scopeOf(_)).map(_.name) == Seq("spec.outer"))
    }
    assert(graftTags.isEmpty)
  }
}

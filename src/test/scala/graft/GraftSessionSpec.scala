package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CanonUrl

/** The one session factory: the suite runs under exactly the conf every main
  * gets, the SQL names resolve, and the timing listener reports each stage
  * and each job's gap.
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestSession {

  test("the test session carries every conf key the factory sets") {
    GraftSession.conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }

  test("canon_url resolves through spark.sql and optimizes to the native CanonUrl") {
    // a column input: on a literal the native expression constant-folds away
    val df = spark.sql("SELECT canon_url(concat('HTTP://Ex.COM:80/a/../', id)) AS c FROM range(1)")
    val opt = df.queryExecution.optimizedPlan
    assert(opt.expressions.exists(_.exists(_.isInstanceOf[CanonUrl])), opt.toString)
    assert(df.head().getString(0) == graft.functions.UrlCanon.canonicalize("HTTP://Ex.COM:80/a/../0"))
  }

  test("TimingListener prints one line per stage and one gap per job") {
    val sc = spark.sparkContext
    val group = "graft-session-spec"
    val buf = new ByteArrayOutputStream()
    val timing = new TimingListener(new PrintStream(buf, true, "UTF-8"))
    // registered after `timing` on the same bus, so once it has seen both
    // job ends, `timing` has printed everything for them
    val jobs = mutable.Map.empty[Int, Seq[Int]]
    val done = new CountDownLatch(2)
    val witness = new SparkListener {
      private def ours(p: java.util.Properties) =
        p != null && p.getProperty("spark.jobGroup.id") == group
      private val ourJobs = mutable.Set.empty[Int]
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (ours(j.properties)) { jobs(j.jobId) = j.stageIds; ourJobs += j.jobId }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (ourJobs(j.jobId)) done.countDown()
    }
    sc.addSparkListener(timing)
    sc.addSparkListener(witness)
    try {
      sc.setJobGroup(group, group)
      // partition 0 holds no match, so take(1) runs a second job over the rest
      assert(sc.parallelize(1 to 100, 4).filter(_ > 90).take(1).sameElements(Seq(91)))
      assert(done.await(60, TimeUnit.SECONDS), "job ends never arrived")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(witness)
      sc.removeSparkListener(timing)
    }
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    def idOf(prefix: String)(l: String): Option[Int] =
      if (l.startsWith(prefix)) Some(l.stripPrefix(prefix).trim.takeWhile(_.isDigit).toInt) else None
    assert(jobs.size == 2, s"expected a two-job action: $jobs")
    val stageLines = lines.flatMap(idOf("[stage")).filter(jobs.values.flatten.toSet)
    assert(stageLines.sorted == jobs.values.flatten.toSeq.sorted, lines.mkString("\n"))
    val gapJobs = lines.filter(_.contains("gap=")).flatMap(idOf("[job")).filter(jobs.contains)
    assert(gapJobs.sorted == jobs.keys.toSeq.sorted, lines.mkString("\n"))
    val endJobs = lines.filter(_.contains("wall=")).flatMap(idOf("[job")).filter(jobs.contains)
    assert(endJobs.sorted == jobs.keys.toSeq.sorted, lines.mkString("\n"))
  }
}

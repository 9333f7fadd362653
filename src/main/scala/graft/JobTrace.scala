package graft

import org.apache.spark.sql.functions._

/** Per-JOB trace of the persisted-ANN round-trip phases (r18 follow-up
  * to StageProbe's `job_counts`): the count probe says HOW MANY jobs a
  * publish/load/append/serve schedules; this probe names EACH job
  * (callsite + first-stage name) so a cut can target the exact action.
  * Dev tooling, never run by the driver.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.JobTrace"
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession("graft-job-trace")
    import graft.operators.{IvfPqIndex, Similarity}
    import graft.sources.IndexStore

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        val stages = js.stageInfos.map(_.name.takeWhile(_ != '(')).mkString("|")
        jobs.add(s"$site [${js.stageInfos.size} stages: $stages]")
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def trace(tag: String)(run: () => Unit): Unit = {
      run() // warm memos outside the traced window
      Thread.sleep(700)
      jobs.clear()
      run()
      Thread.sleep(700)
      println(s"== $tag: ${jobs.size} jobs")
      jobs.forEach(j => println(s"   $j"))
    }

    // SPARK_GRAFT_TRACE_QUERIES=q1,q2 traces registered queries instead
    // of the persisted-ANN phases
    sys.env.get("SPARK_GRAFT_TRACE_QUERIES") match {
      case Some(qs) =>
        qs.split(',').foreach { qn =>
          trace(qn)(() => { SparkEntry.queries(qn)(spark, d).count(); () })
        }
      case None =>
        val pqPath = IndexStore.artifactPath("jobtrace_pq", s"$d|8|8|16")
        val corpus = Similarity.embeddingCorpus(spark, d)
        trace("IvfPqIndex.save (publish)")(() => IvfPqIndex.train(spark, d).save(pqPath))
        trace("IvfPqIndex.load (validated load)")(() =>
          { IvfPqIndex.load(spark, pqPath); () })
        trace("IvfPqIndex.load + serve")(() => IvfPqIndex.load(spark, pqPath)
          .serve(corpus, Similarity.embeddingProbes(spark, d)).collect())
        var epoch = 0L
        trace("IvfPqIndex.append")(() => {
          epoch += 1
          IvfPqIndex.append(spark, pqPath, corpus
            .filter(col("vec_id") % 1000 === 999)
            .select((col("vec_id") + lit(epoch * 10000000L)).as("vec_id"),
              col("embedding")))
          ()
        })
    }
    spark.stop()
  }
}

package graft.etl

import graft.SparkSpec
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import DType._

/** The daily load on every core: the extract's scan split across the
  * cores ([[Ingest.readCsvAllText]]), the count and the vote in one job
  * ([[TypeInference.inferColumnTypes]]), and the sample still the file's
  * first n rows however the scan is split.
  */
class SplitLoadSpec extends SparkSpec {

  private def csv(name: String, header: String, rows: Iterator[String]): String = {
    val f = Files.createTempDirectory("split-load").resolve(name)
    val out = Files.newBufferedWriter(f)
    try { out.write(header); out.write('\n'); rows.foreach { r => out.write(r); out.write('\n') } }
    finally out.close()
    f.toString
  }

  /** One-split read of `f`: every column text, the session's own split size. */
  private def oneSplit(f: String): DataFrame = {
    val names = spark.read.option("header", "true").csv(f).columns
    spark.read.option("header", "true")
      .schema(StructType(names.map(StructField(_, StringType)))).csv(f)
  }

  /** Jobs and per-stage task counts of `body`, in start order. */
  private def jobsOf[A](body: => A): (A, Seq[Int], Seq[Int]) = {
    val jobs = ArrayBuffer.empty[Int]
    val stageTasks = ArrayBuffer.empty[Int]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized(jobs += e.jobId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.synchronized(stageTasks += e.stageInfo.numTasks)
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      ListenerBusAccess.drain(spark.sparkContext)
      (a, jobs.toSeq, stageTasks.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("one vote job picks the sample sampleSizeFor picks: the first 500 / 1000 / all rows") {
    // w500 turns text at row 600, w1000 at row 1200: after the 500- and
    // the 1000-row sample respectively
    def rows(n: Int) = Iterator.range(0, n).map { i =>
      s"$i,${if (i == 600) "x" else "7"},${if (i == 1200) "x" else "8"}"
    }
    val expected = Map(
      999 -> Map("w500" -> Text, "w1000" -> SmallInt),      // all 999 rows
      1001 -> Map("w500" -> SmallInt, "w1000" -> SmallInt), // first 500
      10001 -> Map("w500" -> Text, "w1000" -> SmallInt))    // first 1000
    for ((n, want) <- expected) {
      val f = csv(s"vote$n.csv", "id,w500,w1000", rows(n))
      val df = oneSplit(f)
      assert(df.rdd.getNumPartitions == 1)
      val (votes, jobs, _) = jobsOf(TypeInference.inferColumnTypes(df))
      assert(votes - "id" == want, s"$n rows")
      assert(jobs.size == 1, s"$n rows: the count and the vote ran as ${jobs.size} jobs")
      // the same rows in 4 ordered partitions vote the same first rows
      import spark.implicits._
      val parts = spark.createDataset(spark.sparkContext.parallelize(
        rows(n).map(_.split(',')).map(a => (a(0), a(1), a(2))).toSeq, 4)).toDF("id", "w500", "w1000")
      assert(parts.rdd.getNumPartitions == 4)
      assert(TypeInference.inferColumnTypes(parts) - "id" == want, s"$n rows in 4 partitions")
    }
  }

  /** 12 000 rows (~1.2 MB, 4 splits at 4 cores); "hello" planted in the
    * smallint column near the start of every later split, past the first
    * 1 000 rows: a vote that did not take the file's first rows would see it. */
  private lazy val extract: String = csv("extract.csv", "id,small,amount,flag,day,ts,note",
    Iterator.range(0, 12000).map { i =>
      val small = if (i > 1000 && i % 3000 < 200) "hello" else (i % 30000).toString
      val day = f"${1 + i % 12}/${1 + i % 28}/${2000 + i % 25}"
      val ts = f"20${10 + i % 15}-${1 + i % 12}%02d-${1 + i % 28}%02d ${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d"
      s"$i,$small,${100 + i % 900}.${1 + i % 99},${if (i % 2 == 0) "t" else "f"},$day,$ts,note number $i with padding text"
    })

  test("split-invariant inference: one split and N splits vote and narrow the same") {
    val one = oneSplit(extract)
    val split = Ingest.readCsvAllText(spark, extract)
    assert(one.rdd.getNumPartitions == 1)
    assert(split.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val votes = TypeInference.inferColumnTypes(one)
    assert(TypeInference.inferColumnTypes(split) == votes)
    assert(votes == Map("id" -> SmallInt, "small" -> SmallInt, "amount" -> Num, "flag" -> Bool,
      "day" -> DateD, "ts" -> Timestamp, "note" -> Text))
    val a = TypeInference.narrow(one, votes)
    val b = TypeInference.narrow(split, votes)
    assert(a.schema == b.schema)
    val rowsA = a.collect().map(_.toSeq).toSeq
    val rowsB = b.collect().map(_.toSeq).toSeq
    assert(rowsA.size == 12000)
    assert(rowsA.groupBy(identity).view.mapValues(_.size).toMap ==
      rowsB.groupBy(identity).view.mapValues(_.size).toMap)
    // the planted values narrow to null on both sides
    assert(b.filter("small is null").count() == rowsA.count(_(1) == null))
  }

  test("the split read leaves the caller's session conf unchanged") {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val before = keys.map(spark.conf.getOption)
    val all = spark.conf.getAll
    Ingest.readCsvAllText(spark, extract).count()
    assert(keys.map(spark.conf.getOption) == before)
    assert(spark.conf.getAll == all)
  }

  test("the all-text read names columns as Spark's header read does, and runs no job") {
    val dir = Files.createTempDirectory("split-header")
    val files = Seq(
      "quoted.csv" -> "id,\"last, first\",\"q\"\"x\"\n1,\"a, b\",c\n",
      "dups.csv" -> "id,name,Name,id,name\n1,2,3,4,5\n",
      "empty_name.csv" -> "id,,note\n1,2,3\n",
      "header_only.csv" -> "a,b,c\n",
      "empty.csv" -> "")
    files.foreach { case (name, text) =>
      val f = Files.writeString(dir.resolve(name), text).toString
      val expected = spark.read.option("header", "true").csv(f).schema.map(_.name)
      val (df, jobs, _) = jobsOf(Ingest.readCsvAllText(spark, f))
      assert(df.schema.map(_.name) == expected, name)
      assert(jobs.isEmpty, s"$name: the header read ran ${jobs.size} jobs")
      assert(df.collect().toSeq == oneSplit(f).collect().toSeq, name)
    }
  }

  test("runDaily loads a table in at most 5 jobs, and its stage write runs on every core") {
    val history = Files.createTempDirectory("split-history").toString
    val dir = Files.createTempDirectory("split-day")
    val f = Files.copy(Path.of(extract), dir.resolve("Split_Extract.csv")).toString
    Pipeline.runDaily(spark, Seq(f), history, withHistory = true) // warm the catalog
    val (report, jobs, _) = jobsOf(Pipeline.runDaily(spark, Seq(f), history, withHistory = true))
    assert(report.tables.map(_.rows) == Seq(12000L))
    assert(jobs.size <= 5, s"one table load ran ${jobs.size} jobs")
    // the steps one at a time: the stage write of the 1.2 MB extract
    val typed = TypeInference.inferAndNarrow(Ingest.readCsvAllText(spark, f))
    val (_, writeJobs, writeTasks) = jobsOf(TableLifecycle.stageBuild(typed, "split_extract"))
    assert(writeJobs.size == 1)
    assert(writeTasks.max > 1, s"stage write tasks per stage: $writeTasks")
    Seq("split_extract_build", "split_extract", "split_extract_history")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

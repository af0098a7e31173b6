package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.{DatasetDescriptor, TimeSpan}

/** The publish protocol's layout-neutral contract — guard, update gate,
  * dry-run stop, commit marker, job labels and job counts — run against
  * each store layout by the concrete specs below. */
abstract class PublishProtocolSpec extends SparkSpec {
  import PublishProtocolSpec.Job

  protected val desc = DatasetDescriptor("protocol", "value",
    spatialDims = Seq("latitude", "longitude"), timeResolution = TimeSpan.Daily)

  /** A store of this layout at a fresh, empty path. */
  protected def newStore(tag: String): PublishProtocol

  /** Label step of the layout's data-write jobs. */
  protected def writeStep: String

  /** Label steps of the update's planning jobs, which must all end before
    * the first write job starts (each must run on the fixture update). */
  protected def planSteps: Seq[String]

  /** Job-count bounds on the fixture's initial publish and update. */
  protected def maxInitialJobs: Int
  protected def maxUpdateJobs: Int

  /** An update of a store holding days 1-5 whose planning and gate pass
    * but whose write fails after the commit marker went up; may damage
    * the store to get there. */
  protected def failingUpdate(store: PublishProtocol): DataFrame

  /** The jobs `body` ran, with their descriptions and local properties. */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties)
        jobs.put(e.jobId, Job(props.getProperty("spark.job.description", ""),
          props, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(500) // listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.values().asScala.toSeq.sortBy(_.start)
  }

  /** Every file under the store with its bytes: "byte-identical" means
    * equal snapshots. */
  private def snapshot(store: PublishProtocol): Map[String, Seq[Byte]] = {
    val fs = GridStore.fileSystem(spark, store.path)
    val root = new HPath(store.path)
    if (!fs.exists(root)) Map.empty
    else {
      val it = fs.listFiles(root, true)
      val out = Map.newBuilder[String, Seq[Byte]]
      while (it.hasNext) {
        val p = it.next().getPath
        val in = fs.open(p)
        try out += p.toUri.getPath -> in.readAllBytes().toSeq finally in.close()
      }
      out.result()
    }
  }

  private def mtimes(store: PublishProtocol): Map[String, Long] = {
    val it = GridStore.fileSystem(spark, store.path).listFiles(new HPath(store.path), true)
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val f = it.next()
      out += f.getPath.toUri.getPath -> f.getModificationTime
    }
    out.result()
  }

  private def daysOf(store: PublishProtocol): Long =
    store.dataset().select("time").distinct().count()

  test("an empty update is refused by name; store byte-identical") {
    val store = newStore("empty")
    store.publish(dailyGrid(1, 5))
    val before = snapshot(store)
    val ex = intercept[IllegalStateException](store.publish(dailyGrid(6, 1).limit(0)))
    assert(ex.getMessage.contains("no new or changed records"))
    assert(snapshot(store) == before)
  }

  test("append with a gap after the store end is refused; store unchanged") {
    val store = newStore("gap")
    store.publish(dailyGrid(1, 10))
    val before = snapshot(store)
    val ex = intercept[IllegalStateException](store.publish(dailyGrid(15, 1)))
    assert(ex.getMessage.contains("not contiguous"))
    assert(snapshot(store) == before)
    assert(daysOf(store) == 10)
  }

  test("dry run of an update leaves the store byte-identical") {
    val store = newStore("dryupdate")
    store.publish(dailyGrid(1, 5))
    val before = snapshot(store)
    store.publish(dailyGrid(4, 4, base = 50.0), dryRun = true)
    assert(snapshot(store) == before)
  }

  test("dry run of an initial publish writes nothing") {
    val store = newStore("dryinitial")
    store.publish(dailyGrid(1, 3), dryRun = true)
    assert(!store.hasExisting)
    assert(snapshot(store).isEmpty)
  }

  test("in-progress guard refuses an update; store byte-identical") {
    val store = newStore("guard")
    store.publish(dailyGrid(1, 3))
    store.patchAttrs(Map(GridStore.UpdateInProgressKey -> "true"))
    val before = snapshot(store)
    val ex = intercept[IllegalStateException](store.publish(dailyGrid(4, 1)))
    assert(ex.getMessage.contains("update_in_progress"))
    assert(snapshot(store) == before)
  }

  test("a failed write clears the commit marker") {
    val store = newStore("failmark")
    store.publish(dailyGrid(1, 5))
    val end = store.readAttrs()("date_range_end")
    val update = failingUpdate(store)
    val before = mtimes(store)
    Thread.sleep(20) // a rewrite must show as a newer modification time
    intercept[Exception](store.publish(update))
    val after = store.readAttrs()
    assert(mtimes(store) != before, "the update failed before the marker went up")
    assert(after(GridStore.UpdateInProgressKey) == "false",
      "failed update must clear the marker")
    assert(after("date_range_end") == end)
  }

  test("update gate completes before the write starts") {
    val store = newStore("gateorder")
    store.publish(dailyGrid(1, 10))
    // insert 9-10 (overlaps the store) + append 11-12
    val jobs = jobsOf(store.publish(dailyGrid(9, 4, base = 100.0)))
    val write = jobs.filter(_.desc.contains(writeStep))
    assert(write.nonEmpty, s"no labelled '$writeStep' job ran")
    planSteps.foreach { step =>
      val planned = jobs.filter(_.desc.contains(step))
      assert(planned.nonEmpty, s"no labelled '$step' job ran")
      assert(planned.forall(j => j.end > 0 && j.end <= write.map(_.start).min),
        s"a '$step' job was still running when the write started — the " +
          "gate must fully precede any write that replaces the store files " +
          "its planning read")
    }
    val layer = store.getClass.getSimpleName.toLowerCase
    val unlabelled = jobs.filterNot(_.desc.startsWith(s"graft.$layer: "))
    assert(unlabelled.isEmpty, s"jobs without a graft.$layer label: ${unlabelled.map(_.desc)}")
  }

  test("initial and update publish run a fixed, small number of jobs") {
    val store = newStore("jobspin")
    val initialJobs = jobsOf(store.publish(dailyGrid(1, 10))).size
    info(s"initial publish: $initialJobs jobs")
    assert(initialJobs <= maxInitialJobs, s"initial publish ran $initialJobs jobs")
    val updateJobs = jobsOf(store.publish(dailyGrid(9, 4, base = 100.0))).size
    info(s"update publish: $updateJobs jobs")
    assert(updateJobs <= maxUpdateJobs, s"update publish ran $updateJobs jobs — " +
      "scalar gates are no longer folded into the layout's planning")
  }

  test("a caller-set local property reaches every store job") {
    // the helper threads must exist BEFORE the property is set: a pooled
    // thread that merely inherited the property at creation proves nothing
    val warm = newStore("propswarm")
    warm.publish(dailyGrid(1, 3))
    warm.publish(dailyGrid(3, 2))
    val store = newStore("props")
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty("graft.test.caller", tag)
    val jobs =
      try jobsOf {
        store.publish(dailyGrid(1, 10))
        store.publish(dailyGrid(9, 4, base = 100.0))
      } finally sc.setLocalProperty("graft.test.caller", null)
    assert(jobs.nonEmpty)
    val missing = jobs.filterNot(_.props.getProperty("graft.test.caller") == tag)
    assert(missing.isEmpty, s"jobs without the caller's property: ${missing.map(_.desc)}")
  }
}

object PublishProtocolSpec {
  final case class Job(desc: String, props: java.util.Properties,
      start: Long, var end: Long = -1L)
}

class GridStoreProtocolSpec extends PublishProtocolSpec {
  protected def newStore(tag: String): PublishProtocol = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_protocol_grid_$tag"
    GridStore.fileSystem(spark, path).delete(new HPath(path), true)
    new GridStore(spark, path, desc)
  }
  protected def writeStep = "delta write"
  protected def planSteps = Seq("update gate", "padding read")
  // initial: one stats aggregate + one write job; AQE materializes each
  // shuffle stage as its own job, so the measured count is 5. Update: the
  // lazy delta checkpoint folds into the stats aggregate, then the gate's
  // classification aggregate, the padding read and the write — measured
  // 17. Both bounds keep a one-action margin; the pre-fold protocol
  // (separate bounds agg, 3-action quality gate, touched-buckets collect,
  // own existing-end scan) measures well past 26.
  protected def maxInitialJobs = 7
  protected def maxUpdateJobs = 24
  // the parquet writer refuses an interval column: planning and the gate
  // never read it, so the failure comes from the write itself
  protected def failingUpdate(store: PublishProtocol): DataFrame =
    dailyGrid(6, 1).withColumn("bad", expr("make_interval(0, 0, 0, 1)"))
}

class ZarrStoreProtocolSpec extends PublishProtocolSpec {
  protected def newStore(tag: String): PublishProtocol = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_protocol_zarr_$tag"
    GridStore.fileSystem(spark, path).delete(new HPath(path), true)
    new ZarrStore(spark, path, desc, timeChunk = 8)
  }
  protected def writeStep = "chunk write"
  protected def planSteps = Seq("axis plan")
  // measured: AQE's jobs for one distinct/collect per axis plus the chunk
  // write; the gate and attrs come from the driver-held axes and add none
  protected def maxInitialJobs = 13
  protected def maxUpdateJobs = 7
  // corrupt an existing chunk: the update's merge read then fails INSIDE
  // the distributed write job, after the marker went up
  protected def failingUpdate(store: PublishProtocol): DataFrame = {
    val out = GridStore.fileSystem(spark, store.path)
      .create(new HPath(s"${store.path}/value/0.0.0"), true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    dailyGrid(2, 1, base = 50.0)
  }
}

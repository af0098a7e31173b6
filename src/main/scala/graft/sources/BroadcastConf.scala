package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

/** The one way a Hadoop `Configuration` reaches tasks: a Spark broadcast
  * of its Writable form, the same handle Spark's own file scans ship.
  *
  * A `Configuration` serializes to ~110 KB (about a thousand properties)
  * and takes milliseconds to parse back. Carried by value inside a reader
  * factory or task closure, every task re-parses one copy per scan in its
  * lineage — a union of N per-file scans costs N copies per task, N × tasks
  * per job. Broadcast, each executor fetches and parses the configuration
  * once, and a task deserializes only this small handle.
  *
  * Make one per scan (a lazy val beside the scan's other plan state), not
  * one per `createReaderFactory()` call: a micro-batch stream calls that
  * every trigger and must keep reusing the same broadcast. */
final class BroadcastConf private (b: Broadcast[SerializableConfiguration])
    extends Serializable {
  def value: Configuration = b.value.value
  def broadcastId: Long = b.id
}

object BroadcastConf {
  /** Ships a copy: tasks see `conf` as it is now, not later edits to it
    * (in local mode a task reads the broadcast object itself, not a
    * deserialized copy). */
  def apply(conf: Configuration): BroadcastConf =
    new BroadcastConf(SparkContext.getOrCreate().broadcast(
      new SerializableConfiguration(new Configuration(conf))))
}

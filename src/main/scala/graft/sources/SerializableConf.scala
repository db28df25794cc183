package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** Hadoop Configuration is Writable but not java-Serializable; this
  * minimal wrapper ships the DRIVER's configuration (with its
  * spark.hadoop.* overrides and object-store credentials) into tasks
  * instead of letting executors fall back to bare defaults. (Spark's
  * own org.apache.spark.util.SerializableConfiguration is
  * private[spark] at the Scala level — not reusable here.)
  *
  * Wire format: the conf's raw entries as one flat key/value string
  * list, rebuilt into a Configuration on first use in each JVM with
  * the same `Configuration.set` that `readFields` calls. Writable's
  * `write`/`readFields` would also gzip every entry's source list —
  * for a ~1.1k-entry session conf ~7 ms to write and ~5 ms to read,
  * against ~0.4 ms and ~1 ms here. The list is a plain field, so Java
  * and Kryo serializers both carry it (a transient field filled by a
  * custom writeObject would arrive null under Kryo).
  *
  * Always broadcast, so the conf ships once per executor, not once per
  * task: by [[graft.jobs.FlFileJob]]'s two jobs, and as the session conf
  * shared through [[SerializableConf.broadcast]] by the DSv2 scan (which
  * opens every chunk file with read options built from it) and by the
  * encode's kernel tasks (which write their chunk files with it) — the
  * one copy of this wire format in the codebase. */
private[graft] final class SerializableConf(conf: Configuration) extends Serializable {
  private val entries: Array[String] = {
    import scala.jdk.CollectionConverters._
    conf.asScala.iterator.flatMap(e => Iterator(e.getKey, e.getValue)).toArray
  }
  def sameEntries(o: SerializableConf): Boolean = entries.sameElements(o.entries)
  @transient lazy val value: Configuration = {
    val c = new Configuration(false)
    var i = 0
    while (i < entries.length) { c.set(entries(i), entries(i + 1)); i += 2 }
    c
  }
}

private[graft] object SerializableConf {
  /** The last shared broadcast, with its SparkContext and entries. */
  private var shared: (SparkContext, SerializableConf, Broadcast[SerializableConf]) = null

  /** `conf` as a broadcast. Consecutive scans and encodes in one session
    * carry the same entries, so a caller reuses the previous caller's
    * broadcast when its SparkContext and entries match; a fresh broadcast
    * per scan cost ~4 ms of planning (serialize and write to the block
    * store) plus a Configuration rebuild in each executor's first task.
    * A changed setting is a new broadcast. */
  def broadcast(sc: SparkContext, conf: Configuration): Broadcast[SerializableConf] =
    synchronized {
      val wire = new SerializableConf(conf)
      if (shared == null || !(shared._1 eq sc) || !shared._2.sameEntries(wire))
        shared = (sc, wire, sc.broadcast(wire))
      shared._3
    }
}

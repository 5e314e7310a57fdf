package graft.sources

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Stats-table snapshots by stats dir, each valid for one listing
  * signature, bounded by the stats rows it retains in total: past
  * `maxRows` the least recently used tables are evicted first. The entry
  * just stored is never evicted, so one table larger than the bound is
  * still cached until another table needs the room.
  */
private[sources] final class StatsSnapshotCache(maxRows: Long) {

  // access order: iteration starts at the least recently used entry
  private val entries =
    new java.util.LinkedHashMap[String, (String, LocalRelation)](16, 0.75f, true)
  private var rows = 0L

  /** The snapshot stored for `dir`, if it was taken at signature `sig`. */
  def get(dir: String, sig: String): Option[LocalRelation] = synchronized {
    Option(entries.get(dir)).collect { case (s, rel) if s == sig => rel }
  }

  def put(dir: String, sig: String, rel: LocalRelation): Unit = synchronized {
    Option(entries.put(dir, (sig, rel))).foreach(old => rows -= old._2.data.size)
    rows += rel.data.size
    val it = entries.entrySet.iterator
    while (rows > maxRows && it.hasNext) {
      val e = it.next()
      if (e.getKey != dir) {
        rows -= e.getValue._2.data.size
        it.remove()
      }
    }
  }

  def retainedRows: Long = synchronized(rows)
}

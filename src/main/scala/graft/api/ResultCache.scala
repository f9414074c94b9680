package graft.api

import java.util.concurrent.atomic.AtomicLong
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import graft.sources.SourceLoaders.{FileStamp, fileVersion}
import graft.types.{DataResult, QueryResult}

/** Read-only counters of one [[MultiDb]]'s result cache. `hits` were served
  * from the cache, `misses` found no entry, `stale` found one whose files
  * had changed (or could not be listed) and evicted it, `skipped` results
  * ran but were not stored.
  */
final case class ResultCacheStats(
    hits: Long, misses: Long, stale: Long, skipped: Long, entries: Int, cells: Long)

/** The bounded, exact result cache behind [[MultiDb.query]].
  *
  * Each entry records the data version ([[fileVersion]]) of every root path
  * its plan read. `get` lists those roots again and serves the entry only
  * when nothing changed; a difference or a listing failure evicts it.
  * `put` stores a result only when its analyzed plan, subqueries included,
  * is deterministic and reads file relations (`HadoopFsRelation`) only, and
  * when the files listed after the run are exactly the ones Spark listed
  * when it planned the scan, so no file changed while the query ran.
  *
  * The cache holds at most [[ResultCache.MaxCells]] result cells (rows ×
  * columns), evicting the least recently used entries, and never stores a
  * result above [[ResultCache.MaxEntryCells]].
  */
private[api] final class ResultCache(conf: Configuration) {
  import ResultCache._

  private final class Entry(
      val roots: Seq[Path], val version: Seq[FileStamp], val result: QueryResult, val cells: Long)

  // access order: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Any, Entry](16, 0.75f, true)
  private var cells = 0L
  private val hits, misses, stale, skipped = new AtomicLong()

  def get(key: Any): Option[QueryResult] =
    Option(synchronized(entries.get(key))) match {
      case None =>
        misses.incrementAndGet()
        None
      case Some(e) if Try(e.roots.flatMap(fileVersion(conf, _))).toOption.contains(e.version) =>
        hits.incrementAndGet()
        Some(e.result)
      case Some(e) =>
        synchronized(if (entries.remove(key, e)) cells -= e.cells)
        stale.incrementAndGet()
        None
    }

  /** Stores `result`, the answer `frame` computed, under `key` if the rules
    * above allow it.
    */
  def put(key: Any, result: QueryResult, frame: DataFrame): Unit = {
    val resultCells = result match {
      case d: DataResult => math.max(1L, d.data.map(_.size.toLong).sum)
      case _ => 1L
    }
    val entry = for {
      indexes <- fileIndexes(frame) if resultCells <= MaxEntryCells
      roots = indexes.flatMap(_.rootPaths).distinct
      listed <- Try(roots.map(r => r -> fileVersion(conf, r))).toOption
      if listed.flatMap { case (r, stamps) => stamps.filterNot(s => hidden(r, s)) }.toSet ==
        indexes.flatMap(_.allFiles()).map(f =>
          FileStamp(f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    } yield new Entry(roots, listed.flatMap(_._2), result, resultCells)
    entry match {
      case None => skipped.incrementAndGet()
      case Some(e) => synchronized {
        Option(entries.put(key, e)).foreach(old => cells -= old.cells)
        cells += e.cells
        val lru = entries.values.iterator
        while (cells > MaxCells) { cells -= lru.next().cells; lru.remove() }
      }
    }
  }

  def clear(): Unit = synchronized { entries.clear(); cells = 0 }

  def stats: ResultCacheStats = synchronized(ResultCacheStats(
    hits.get, misses.get, stale.get, skipped.get, entries.size, cells))
}

private[graft] object ResultCache {

  /** Total result cells (rows × columns) one cache holds. */
  val MaxCells = 200000L

  /** The largest result stored: 1/20 of the total. */
  val MaxEntryCells: Long = MaxCells / 20

  /** The key form of a query definition or context: every literal tagged
    * with its class, because Scala's `==` equates 1, 1L and 1.0, which
    * validation tells apart.
    */
  def typed(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => typed(k) -> typed(x) }.toMap
    case s: Iterable[_] => s.map(typed).toList
    case p: Product => (p.getClass, p.productIterator.map(typed).toList)
    case null => null
    case x => (x.getClass, x)
  }

  /** The file indexes of the relations `frame` reads, or None if its plan
    * is nondeterministic or reads anything but `HadoopFsRelation`s over a
    * file index that lists its files.
    */
  private def fileIndexes(frame: DataFrame): Option[Seq[PartitioningAwareFileIndex]] = {
    val plans = frame.queryExecution.analyzed.collectWithSubqueries { case p => p }
    val leaves = plans.collect { case l: LeafNode => l }
    val indexes = leaves.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case i: PartitioningAwareFileIndex => i }
    if (plans.forall(_.deterministic) && indexes.size == leaves.size) Some(indexes) else None
  }

  /** Spark's rule for files a scan skips: a path component below the root
    * that starts with `.`, or with `_` and is no partition directory, or a
    * copy in progress; parquet summary files are kept.
    */
  private def hidden(root: Path, stamp: FileStamp): Boolean =
    stamp.path.stripPrefix(root.toString).split('/').exists { name =>
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
    }
}

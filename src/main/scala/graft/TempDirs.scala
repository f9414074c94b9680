package graft

import java.nio.file.{Files, Path}

/** Per-JVM temp-dir factory with exit-time cleanup. Every per-JVM
  * materialization (IVF index, partitioned orders, ORC/text landings,
  * bucketed warehouse, embedded Derby) allocates through here so repeated
  * Verify/Bench/test JVMs don't accumulate parquet copies in /tmp: one
  * shutdown hook deletes everything this process created, recursively.
  * Deletion is best-effort (files are unlinked even if a component still
  * holds them open — fine on POSIX; failures are swallowed because the JVM
  * is exiting anyway).
  *
  * The same object memoizes those materializations: [[memo]] runs each
  * fixture's build at most once per `(kind, key)` per JVM — `kind` names
  * the fixture, `key` is usually the sfDir it was built from. Concurrent
  * callers of one key wait for the single build; different keys build at
  * the same time. A build may call the memo for another key (an index
  * build reads the memoized corpus count). A build that throws is not
  * memoized: the next call builds again.
  */
object TempDirs {

  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // Derby's own shutdown hook rewrites derby.log and can recreate a dir
      // after we delete it; shut the engine down first so deletion is final.
      // The property is set iff DerbyFixture booted a database this JVM —
      // checking it avoids loading the driver in JVMs that never used Derby.
      if (System.getProperty("derby.stream.error.file") != null)
        try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
        catch { case _: Exception => () } // XJ015 == successful engine shutdown
      created.forEach { root =>
        val walk = try Files.walk(root) catch { case _: Exception => null }
        if (walk != null)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
          catch { case _: Exception => () }
          finally walk.close()
      }
    }, "graft-tempdir-cleanup"))
  }

  /** One key's build. `computeIfAbsent` only installs the holder; the
    * build runs afterwards under the holder's own monitor, so a build may
    * call [[memo]] for another key (ConcurrentHashMap forbids map updates
    * inside `computeIfAbsent`) and only callers of the same key wait on
    * it. The thunk is dropped once built, releasing whatever session it
    * captured.
    */
  private final class Memo(private var build: () => Any) {
    lazy val value: Any = { val v = build(); build = null; v }
  }

  private val memos = new java.util.concurrent.ConcurrentHashMap[(String, String), Memo]()

  /** The value of `build` for `(kind, key)`, built once per JVM. A failed
    * build's holder is dropped, so the next call builds with its own thunk.
    */
  def memo[T](kind: String, key: String)(build: => T): T = {
    val k = (kind, key)
    val m = memos.computeIfAbsent(k, _ => new Memo(() => build))
    try m.value.asInstanceOf[T]
    catch { case e: Throwable => memos.remove(k, m); throw e }
  }

  /** Create a fresh temp directory that will be deleted when this JVM exits. */
  def create(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p
  }
}

package graft.util

import java.nio.file.{Files, Path, Paths}
import java.sql.{DriverManager, SQLException}

/** Scratch lifecycle for queries that stage real substrates: binlog wire
  * directories under /tmp, and per-invocation embedded-Derby staging
  * databases (in-memory — see [[derbyMemUrl]]).
  *
  * Each staging query creates a fresh per-invocation directory or database,
  * so concurrent constructions of DIFFERENT queries never contend. Two
  * lifecycles apply:
  *
  *  - scratch DIRECTORIES are never reused or reclaimed while the JVM
  *    lives (a dir may back an unread lazy DataFrame); one JVM shutdown
  *    hook shuts the embedded Derby engine down (releasing every booted
  *    database's page cache and file handles — Derby otherwise keeps each
  *    database open for the JVM lifetime) and deletes the registered
  *    trees, so a full bench+test session leaves /tmp net-clean;
  *  - in-memory staging DATABASES are reclaimed prefix-scoped: creating
  *    invocation N+1 of a query drops invocation N's database (see
  *    [[derbyMemUrl]]), which bounds heap across bench passes but REQUIRES
  *    each invocation's frame to be consumed before the same query
  *    constructs again — true of every harness path (Verify, Bench, ProfileQ,
  *    the spec sweeps), which are all sequential per query.
  */
object Scratch {

  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val memIds = new java.util.concurrent.atomic.AtomicLong(0L)
  private val memLast = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A fresh in-memory embedded-Derby URL for a per-invocation staging
    * database. The oracle/bench queries stage through a REAL SQL engine to
    * pin loader semantics (unique constraints, index probes, REPLACE
    * folds) — but the database itself is throwaway substrate rebuilt on
    * every invocation, so its WAL fsyncs measure the sandbox disk, not the
    * operator (the r7 bench carried 4-10x pass spread on exactly the
    * Derby-staging family). `memory:` keeps the identical engine, planner
    * and constraint enforcement with zero file I/O; the engine-wide
    * shutdown in [[cleanup]] releases every memory database. A real
    * deployment injects a MySQL/TiDB server URL at the same constructor,
    * unchanged. */
  def derbyMemUrl(prefix: String): String = {
    // jdbc:derby:memory: databases are JVM-local: on a multi-JVM cluster
    // every executor connecting with create=true would boot its own empty
    // database and staging reads/writes would silently diverge. Staging
    // through memory: is therefore a local-mode-only device; a cluster run
    // must inject a networked JDBC URL at the same constructor instead.
    // orElse(default): getActiveSession is THREAD-LOCAL — a harness/pool
    // thread other than the session's owner would see None and silently
    // skip the guard, handing executors a memory: URL on a real cluster
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach { s =>
        require(s.sparkContext.isLocal,
          "derbyMemUrl is JVM-local staging — inject a networked JDBC URL on a cluster")
      }
    ensureDerbyHome()
    hookOnce()
    val url = s"jdbc:derby:memory:${prefix}_${memIds.incrementAndGet()};create=true"
    // Bound heap to one live database per prefix: creating invocation N+1
    // drops invocation N's database, so interleaved bench passes never
    // accumulate staging state with the rep count (and nothing pays a
    // per-query materialization to drop eagerly). Contract: a query's
    // returned frame must be consumed before the SAME query constructs
    // again — true of every harness path (Verify, Bench, ProfileQ, the
    // specs), which all consume each invocation before the next pass.
    val prev = memLast.put(prefix, url)
    if (prev != null) dropDerbyMem(prev)
    url
  }

  /** Drop a [[derbyMemUrl]] database, releasing its on-heap pages NOW
    * rather than at engine shutdown. Derby signals a successful drop with
    * SQLState 08006 ("database ... dropped"). */
  def dropDerbyMem(url: String): Unit = {
    val base = url.takeWhile(_ != ';')
    try { DriverManager.getConnection(s"$base;drop=true"); () }
    catch {
      case e: SQLException if e.getSQLState == "08006" => () // dropped: success
      case e: SQLException if e.getSQLState == "XJ004" => () // never booted
      // anything else means the database is still live — the leak this
      // method exists to prevent; fail loudly rather than accumulate
    }
  }

  /** Point derby.system.home at a temp dir once per JVM (before the engine
    * first boots) so derby.log never lands in the working directory. */
  def ensureDerbyHome(): Unit =
    if (System.getProperty("derby.system.home") == null) {
      // per-JVM temp dir, NOT a fixed shared path: concurrent test/bench
      // JVMs each own their home, so one JVM's shutdown cleanup can never
      // delete the directory out from under another's live engine; being
      // registered in dirs keeps the net-clean-/tmp promise
      val home = Files.createTempDirectory("graft_derby_home").toString
      System.setProperty("derby.system.home", home)
      dirs.add(home)
      hookOnce()
    }

  /** A fresh temp dir registered for shutdown-time cleanup. */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    dirs.add(d)
    hookOnce()
    d
  }

  private def hookOnce(): Unit =
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup(), "graft-scratch-cleanup"))

  private[graft] def cleanup(): Unit = {
    // engine-wide shutdown: XJ015 ("Derby system shutdown") IS the success
    // signal; a no-Derby-loaded session throws nothing we care about
    try { DriverManager.getConnection("jdbc:derby:;shutdown=true"); () }
    catch {
      case e: SQLException if e.getSQLState == "XJ015" => ()
      case _: Throwable => ()
    }
    dirs.forEach(d => delete(Paths.get(d)))
    dirs.clear()
  }

  private def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      try
        stream.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
      finally stream.close()
    }
}

package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import graft.util.{NioLocalFileSystem, NioLocalFs, Par}

/** The one session factory ([[Session]]) and what it owns: the settings
  * every harness shares, fork-free local storage, and the active session
  * on graft's own worker threads. */
class SessionSpec extends SparkSpec {

  test("the factory's session carries the shared settings") {
    assert(spark.sparkContext.master == "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "8000",
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("local storage sets permissions through java.nio, on both Hadoop APIs") {
    // Hadoop without libhadoop forks /bin/chmod per setPermission; the
    // factory's filesystems must be the ones Spark and graft resolve
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), hconf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    val fc = FileContext.getFileContext(new URI("file:///"), hconf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs],
      fc.getDefaultFileSystem.getClass.getName)

    val dir = graft.util.Scratch.dir("graft_nio_perm")
    def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    def onDisk(name: String) = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(dir, name)))
    val viaFs = new Path(s"file://$dir/fs")
    fs.create(viaFs).close()
    fs.setPermission(viaFs, mode("640"))
    assert(onDisk("fs") == "rw-r-----")
    fs.setPermission(viaFs, mode("705"))
    assert(onDisk("fs") == "rwx---r-x")
    // the FileContext path (Structured Streaming's checkpoint manager)
    val viaFc = new Path(s"file://$dir/fc")
    fc.mkdir(viaFc, mode("750"), false)
    fc.setPermission(viaFc, mode("711"))
    assert(onDisk("fc") == "rwx--x--x")
  }

  test("Par tasks run under the submitter's active session") {
    // a SparkPlan captures SparkSession.getActiveSession when it is built;
    // a pool thread holding no session (or another one) must not leak
    // into the plans a task builds. Occupy every pool thread at once so
    // each one clears its own thread-local value.
    SparkSession.setActiveSession(spark)
    val all = new CyclicBarrier(Par.Workers)
    Par.foreachPar(1 to Par.Workers) { _ =>
      SparkSession.clearActiveSession()
      all.await(60, TimeUnit.SECONDS)
      ()
    }
    val seen = Par.mapPar(1 to Par.Workers)(_ => SparkSession.getActiveSession)
    assert(seen.forall(_.contains(spark)),
      s"${seen.count(!_.contains(spark))} of ${Par.Workers} tasks ran without the submitter's session")
    assert(SparkSession.getActiveSession.contains(spark))
  }

  test("the session factory is the only SparkSession builder under src/") {
    // one config for every harness: a second builder is how the bench and
    // the profiler came to measure under different settings
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r: run from the project root"))
    val builders = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle))
        .map(_.toString).toList
      finally walk.close()
    }
    assert(builders == Seq("src/main/scala/graft/Session.scala"))
  }
}

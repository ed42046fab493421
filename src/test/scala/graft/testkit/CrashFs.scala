package graft.testkit

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.util.EnumSet

/** A local file system that dies on purpose: the `crashfs:` scheme over
  * the local disk (`crashfs:///tmp/x` is `/tmp/x`). It records every
  * mutating call a run makes; armed with a pattern, it lets the matching
  * call run and then throws [[CrashFs.Killed]] from every later mutation.
  * No abort or cleanup code gets to mutate anything after the kill,
  * which is what a killed process leaves behind. Reads keep working, so
  * the spec can inspect the state and re-run the job on it.
  *
  * Spark's parquet writers, its commit protocol and the streaming
  * checkpoint all go through the file system of their path, so a job
  * whose output is a `crashfs:` path is killed at any of their calls as
  * well as at the program's own commits.
  */
class CrashFs extends RawLocalFileSystem {
  import CrashFs.mutating

  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")
  override def getScheme: String = CrashFs.Scheme

  override def initialize(uri: URI, conf: Configuration): Unit = super.initialize(getUri, conf)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutating("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutating("create", f)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutating("create", f)(super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutating("create", f)(super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutating("rename", src, Some(dst))(super.rename(src, dst))
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    mutating("delete", p)(super.delete(p, recursive))
  }

  override def mkdirs(f: Path): Boolean = {
    mutating("mkdirs", f)(super.mkdirs(f))
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutating("mkdirs", f)(super.mkdirs(f, permission))
  }
}

object CrashFs {

  val Scheme = "crashfs"

  /** One mutating call of a run: `path` is what it acts on (a rename's
    * source) and `to` a rename's destination, both relative to the run's
    * root directory. */
  final case class Mutation(op: String, path: String, to: String = "") {
    override def toString: String = if (to.isEmpty) s"$op $path" else s"$op $path -> $to"
  }

  /** What every mutation after the kill throws. */
  final class Killed(val m: Mutation)
      extends java.io.IOException(s"CrashFs: the process is dead; refused $m")

  /** A crash point: the `occurrence`-th mutation matching `at` runs, and
    * the next mutation is the first to fail. */
  final case class Point(label: String, at: Mutation => Boolean, occurrence: Int = 1,
      kind: String = "") {
    override def toString: String = s"$label (#$occurrence)"
  }

  /** A kind of mutation in a job's trace. With `crash = false` it is
    * classified but offers no crash point. */
  final case class Kind(label: String, at: Mutation => Boolean, crash: Boolean = true)

  /** The run writing under one root: its trace, and where it is armed. */
  private final class Run(val root: String, val armed: Option[Point]) {
    var trace = Vector.empty[Mutation]
    var seen = 0
    var dead = false
    def owns(path: String): Boolean = path == root || path.startsWith(s"$root/")
    def rel(path: String): String = if (owns(path)) path.drop(root.length + 1) else path
  }
  private var runs = Map.empty[String, Run]
  // RawLocalFileSystem creates missing parents through its own public
  // mkdirs: only the outermost call of a thread is the job's mutation
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def mutating[T](op: String, p: Path, dst: Option[Path] = None)(call: => T): T = {
    if (depth.get == 0) synchronized {
      val path = p.toUri.getPath
      for (r <- runs.values.find(_.owns(path))) {
        val m = Mutation(op, r.rel(path), dst.fold("")(d => r.rel(d.toUri.getPath)))
        if (r.dead) throw new Killed(m)
        r.trace :+= m
        for (pt <- r.armed if pt.at(m)) {
          r.seen += 1
          if (r.seen == pt.occurrence) r.dead = true
        }
      }
    }
    depth.set(depth.get + 1)
    try call finally depth.set(depth.get - 1)
  }

  private def absolute(localDir: String): String = new java.io.File(localDir).getAbsolutePath

  /** Registers the scheme on `spark`; returns the `crashfs:` URI of `localDir`. */
  def on(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)
    s"$Scheme://${absolute(localDir)}"
  }

  /** Runs `run` with the mutations under `root` watched by `r`. */
  private def watching[T](r: Run)(run: => T): T = {
    synchronized {
      require(!runs.contains(r.root), s"${r.root} is already watched")
      runs += r.root -> r
    }
    try run finally synchronized(runs -= r.root)
  }

  /** What `run` returns, and the mutations it makes under `root`. */
  def record[T](root: String)(run: => T): (T, Seq[Mutation]) = {
    val r = new Run(absolute(root), None)
    val result = watching(r)(run)
    (result, synchronized(r.trace))
  }

  /** Runs `run` armed at `point` for the mutations under `root`: the run
    * must die there, and its failure must carry [[Killed]] in its cause
    * chain. The root turns healthy again only once no task of the dead
    * run is still running (a task that outlived its job would otherwise
    * commit into the next run's output). A killed process keeps none of
    * its cached data: every cached frame that reads under `root` is
    * dropped. Frames that read only inputs hold what a re-run computes
    * again, and frames of runs on other roots stay.
    *
    * Runs killed on different roots may overlap. A run that starts no
    * Spark job from this thread (a streaming query) must not: its tasks
    * are waited for across the whole session. */
  def kill(spark: SparkSession, root: String, point: Point)(run: => Any): Unit = {
    val r = new Run(absolute(root), Some(point))
    val sc = spark.sparkContext
    val group = s"crashfs:${r.root}"
    val failure = watching(r) {
      sc.setJobGroup(group, point.toString)
      val failure =
        try { run; None }
        catch { case t: Throwable => Some(t) }
        finally sc.clearJobGroup()
      val tracker = sc.statusTracker
      def busy(jobs: Seq[Int]): Boolean = jobs.flatMap(tracker.getJobInfo(_)).exists { j =>
        j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
          j.stageIds.flatMap(tracker.getStageInfo(_)).exists(_.numActiveTasks > 0)
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline && {
        val own = tracker.getJobIdsForGroup(group).toSeq
        if (own.nonEmpty) busy(own) else busy(tracker.getActiveJobIds().toSeq) ||
          tracker.getExecutorInfos.exists(_.numRunningTasks > 0)
      }) Thread.sleep(10)
      failure
    }
    spark.catalog.refreshByPath(on(spark, root))
    failure match {
      case None => throw new AssertionError(s"the run finished: crash point $point never reached")
      case Some(t) =>
        if (!Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[Killed]))
          throw new AssertionError(s"the run at crash point $point failed, but not by the crash", t)
    }
  }

  /** A mutation with its ids (uuids, task attempts, part and bucket
    * numbers) blanked out: the pattern a point's last mutation is found by. */
  private def shape(m: Mutation): String =
    m.toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "*").replaceAll("\\d+", "#")

  /** Crash points taken from a clean trace. Each mutation belongs to the
    * first kind that matches it, and every mutation must belong to one,
    * so a mutation a later change adds to the job fails the spec until it
    * is classified. A kind offers its first mutation, and its last one,
    * found by its shape and how often the shape occurs in the kind: how
    * many files a Spark write's tasks create, and in which order, differs
    * from run to run, its job commit does not. The trace's final mutation
    * offers no point, since no later mutation is left to fail. */
  def points(trace: Seq[Mutation], kinds: Seq[Kind]): Seq[Point] = {
    def kindOf(m: Mutation): Option[Kind] = kinds.find(_.at(m))
    val unclassified = trace.filter(kindOf(_).isEmpty)
    if (unclassified.nonEmpty)
      throw new AssertionError(s"${unclassified.size} mutation(s) of no listed kind, e.g. " +
        unclassified.take(5).mkString("; "))
    for {
      k <- kinds if k.crash
      in = (m: Mutation) => kindOf(m).contains(k)
      idx = trace.indices.filter(i => in(trace(i)))
      if idx.nonEmpty
      last = shape(trace(idx.last))
      lastAt = (m: Mutation) => in(m) && shape(m) == last
      p <- if (idx.size == 1) Seq(Point(k.label, in, 1, k.label) -> idx.head)
        else Seq(Point(s"first ${k.label}", in, 1, k.label) -> idx.head,
          Point(s"last ${k.label}", lastAt, idx.count(i => lastAt(trace(i))), k.label) -> idx.last)
      if p._2 < trace.size - 1
    } yield p._1
  }

  /** Runs `check` for every point, four at a time, each with the point's
    * index (a spec gives each point its own root). The small jobs of a
    * kill spec leave most cores idle: on four cores, three KgJob runs took
    * 21 s in a row and four took 9.5 s at once. */
  def forEach(points: Seq[Point])(check: (Point, Int) => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = points.zipWithIndex.map { case (p, i) =>
        pool.submit(new Runnable { def run(): Unit = check(p, i) })
      }
      tasks.foreach { t =>
        try t.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  /** Paths under `root` left by an unfinished protocol: apply staging, a
    * Commit temp file, or a Spark staging directory. */
  def leftovers(root: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(root)).map(_.getPath).filter { p =>
      val n = new java.io.File(p).getName
      n == "_incr" || n.endsWith(".tmp") || n.startsWith(".spark-staging")
    }
  }

  /** Empties `localDir`, then fills it with a copy of `from` if given:
    * the starting state of one crash point. */
  def reset(localDir: String, from: Option[String] = None): Unit = {
    import java.io.File
    def delete(f: File): Unit = { Option(f.listFiles()).toSeq.flatten.foreach(delete); f.delete() }
    def copy(src: File, dst: File): Unit =
      if (src.isDirectory) { dst.mkdirs(); src.listFiles().foreach(c => copy(c, new File(dst, c.getName))) }
      else java.nio.file.Files.copy(src.toPath, dst.toPath)
    delete(new File(localDir))
    from.foreach(src => copy(new File(src), new File(localDir)))
  }

  /** Mutations of a Spark write into `dir`: everything inside it, and the
    * directory itself (an overwrite deletes it first, and the commit
    * creates it). */
  def under(dir: String): Mutation => Boolean =
    m => m.path == dir || m.path.startsWith(s"$dir/")

  /** `op` on a path that starts with `prefix`. */
  def at(op: String, prefix: String): Mutation => Boolean =
    m => m.op == op && m.path.startsWith(prefix)
}

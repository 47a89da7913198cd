package graft

import java.net.URI
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{Confs, Lake}
import graft.etl.{DvError, DvException}

/** The claim protocol tested as a protocol: random concurrent schedules
  * over all five claim-marker kinds (run-id, ingestion, per-source flow,
  * per-table load, compaction), through two [[Lake]] instances whose roots
  * spell one directory differently, on a filesystem that fails the k-th
  * create, close or delete. After every schedule:
  *   - no marker ever had two holders at once;
  *   - the markers on disk are exactly the ones never released (run-id
  *     and kept ingestion markers), the ones whose release delete failed,
  *     and the out-of-band one; the JVM registry holds exactly the first;
  *   - so a failed create/close left no half-claim;
  *   - an out-of-band marker (a crashed holder, written at the on-disk
  *     paths older code used) blocked every take until its release route
  *     cleared it.
  */
class ClaimProtocolSpec extends SparkSpec {
  import ClaimProtocolSpec._

  private val op: Gen[Op] = Gen.oneOf(false, true).flatMap { onB =>
    Gen.oneOf(
      Gen.choose(1, 2).map(RunId(_, onB)),
      for (f <- Gen.choose(1, 2); keep <- Gen.oneOf(false, true)) yield Ingest(f, keep, onB),
      Gen.const(Flow(onB)),
      Gen.oneOf(false, true).map(Load(_, onB)),
      Gen.const(Compact(onB)))
  }

  private val schedule: Gen[Schedule] = for {
    n <- Gen.choose(2, 4)
    threads <- Gen.listOfN(n, Gen.choose(1, 4).flatMap(Gen.listOfN(_, op)))
    fault <- Gen.option(for (o <- Gen.oneOf("create", "close", "delete"); k <- Gen.choose(1, 6)) yield (o, k))
    crashed <- Gen.option(Gen.choose(0, crashedMarkers.length - 1))
  } yield Schedule(threads, fault, crashed)

  private def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Out-of-band markers, spelled by hand relative to the lake root, each
    * with its kind's release route. */
  private val crashedMarkers: Seq[(String, (Lake, Path) => Unit)] = Seq(
    "metadata/.run_ids/00000000000000000001" -> ((l, p) => l.releaseClaim(p)),
    s"metadata/.flow_claims/customer__${sha1Hex("/in/f1.csv")}" -> ((l, p) => l.releaseClaim(p)),
    "metadata/.flow_claims/__flow__customer" -> ((l, p) => l.releaseClaim(p)),
    "dv/.claims/hub_a_graft_loading" -> ((l, _) => l.releaseLoadClaim("dv", "hub_a")),
    "dv/hub_a/_graft_compacting" -> ((l, _) => l.releaseCompactionClaim("dv", "hub_a")))

  /** The same directory spelled a second way (parent/./name); with no
    * authority, it qualifies to the faulty store's own. */
  private def respell(root: String): String = {
    val p = java.nio.file.Paths.get(root)
    s"${p.getParent}/./${p.getFileName}"
  }

  private def qualify(p: Path): String =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString

  /** What the schedules exercised, summed over the run. */
  private val seen = new ConcurrentHashMap[String, AtomicInteger]()
  private def note(what: String): Unit = seen.computeIfAbsent(what, _ => new AtomicInteger).incrementAndGet()

  private def run(s: Schedule): Seq[String] = {
    val dir = tmpDir("claims")
    val a = new Lake(spark, s"faulty://lake$dir", buckets = 4)
    val b = new Lake(spark, s"faulty:${respell(dir)}/", buckets = 4)
    def lake(onB: Boolean) = if (onB) b else a
    val violations = new ConcurrentLinkedQueue[String]()
    val holders = new ConcurrentHashMap[String, AtomicInteger]()
    val kept = ConcurrentHashMap.newKeySet[String]() // taken, never released
    val stale = ConcurrentHashMap.newKeySet[String]() // release delete failed
    val crashed = s.crashed.map { i =>
      val f = java.nio.file.Paths.get(dir, crashedMarkers(i)._1)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, "crashed holder")
      qualify(new Path(s"faulty://$f"))
    }
    val (pa, pb) = (a.loadClaimPath("dv", "hub_a"), b.loadClaimPath("dv", "hub_a"))
    if (pa.toString == pb.toString || qualify(pa) != qualify(pb))
      violations.add(s"roots must spell one marker differently: $pa vs $pb")

    def enter(p: Path): Unit = {
      val k = qualify(p)
      if (crashed.contains(k)) violations.add(s"took the out-of-band marker $k")
      if (holders.computeIfAbsent(k, _ => new AtomicInteger).incrementAndGet() != 1)
        violations.add(s"two holders of $k")
    }
    def exit(p: Path): Unit = { holders.get(qualify(p)).decrementAndGet(); () }

    /** Run a scoped take; a fault after the body ran is a failed release. */
    def scoped(p: Path)(take: (=> Unit) => Unit)(inner: => Unit): Unit = {
      var ran = false
      try take {
        enter(p)
        ran = true
        try { Thread.sleep(1); inner } finally exit(p)
      } catch {
        case _: InjectedFault if ran => stale.add(qualify(p)); note("failed release")
      }
    }

    def exec(o: Op): Unit = o match {
      case RunId(id, onB) =>
        val p = lake(onB).runIdClaimPath(id)
        if (lake(onB).tryClaim(p, "run-id")) { enter(p); kept.add(qualify(p)) }
      case Ingest(f, keep, onB) =>
        val l = lake(onB)
        val file = s"/in/f$f.csv"
        val p = l.ingestionClaimPath("customer", file)
        if (l.tryClaim(p, "ingestion", file.getBytes("UTF-8"))) {
          enter(p)
          if (keep) kept.add(qualify(p))
          else {
            Thread.sleep(1)
            exit(p)
            try l.releaseClaim(p)
            catch { case _: InjectedFault => stale.add(qualify(p)); note("failed release") }
          }
        }
      case Flow(onB) =>
        val l = lake(onB)
        scoped(l.flowClaimPath("customer"))(body => l.withFlowClaim("customer")(body))(())
      case Load(nested, onB) =>
        val l = lake(onB)
        scoped(l.loadClaimPath("dv", "hub_a"))(body => l.withLoadClaim("dv", "hub_a", "protocol")(body)) {
          if (nested) { l.withLoadClaim("dv", "hub_a", "nested")(()); note("reentrant take") }
        }
      case Compact(onB) =>
        val l = lake(onB)
        scoped(l.compactClaimPath("dv", "hub_a"))(body => l.withCompactionClaim("dv", "hub_a", "protocol")(body))(())
    }

    val start = new CountDownLatch(1)
    FaultyFs.arm(s.fault)
    val threads = s.threads.map { ops =>
      new Thread(() => {
        start.await()
        ops.foreach { o =>
          try exec(o)
          catch {
            case _: InjectedFault => note("failed take")
            case e: DvException if e.error.isInstanceOf[DvError.Concurrency] => note("refusal")
            case e: Throwable => violations.add(s"$o threw $e")
          }
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    if (FaultyFs.fired) note("fault fired")
    FaultyFs.arm(None)

    val root = qualify(new Path(s"faulty://$dir"))
    def onDisk: Set[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => qualify(new Path(s"faulty://$f"))).toSet
      finally w.close()
    }
    def registered = Lake.claims.asScala.filter(_.startsWith(root + "/")).toSet
    val expected = kept.asScala.toSet ++ stale.asScala ++ crashed
    if (onDisk != expected) violations.add(s"markers on disk $onDisk, expected $expected")
    if (registered != kept.asScala.toSet) violations.add(s"registry $registered, expected $kept")

    // The out-of-band marker still blocks; its release route clears it.
    crashed.foreach { k =>
      note("out-of-band marker")
      val p = new Path(k)
      if (a.tryClaim(p, "check")) violations.add(s"out-of-band $k was claimable")
      crashedMarkers(s.crashed.get)._2(b, p)
      if (!a.tryClaim(p, "check")) violations.add(s"$k not claimable after its release")
      a.releaseClaim(p)
    }
    (kept.asScala ++ stale.asScala).foreach(k => a.releaseClaim(new Path(k)))
    if (onDisk.nonEmpty) violations.add(s"markers left after releasing every claim: $onDisk")
    if (registered.nonEmpty) violations.add(s"registry entries left after release: $registered")
    violations.asScala.toSeq
  }

  test("claim protocol: random schedules over five kinds, two root spellings, injected faults") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val t0 = System.nanoTime()
    try {
      spark.conf.set(Confs.LoadClaimWaitMillisKey, "30")
      (0 until Schedules).foreach { i =>
        schedule(Gen.Parameters.default, Seed(7000L + i)).foreach { s =>
          val v = run(s)
          assert(v.isEmpty, s"schedule $i ($s): ${v.mkString("; ")}")
        }
      }
    } finally spark.conf.unset(Confs.LoadClaimWaitMillisKey)
    val secs = (System.nanoTime() - t0) / 1e9
    val counts = seen.asScala.map { case (k, v) => k -> v.get }.toMap
    info(f"$Schedules schedules in $secs%.1f s: $counts")
    // the generator must actually reach every path the invariants cover
    Seq("failed take", "failed release", "refusal", "reentrant take", "out-of-band marker", "fault fired")
      .foreach(k => assert(counts.getOrElse(k, 0) > 0, s"no schedule exercised '$k': $counts"))
  }

  test("a take whose create meets a marker its holder deletes right after is a refusal") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val lake = new Lake(spark, s"faulty://lake${tmpDir("claims")}", buckets = 4)
    val p = lake.compactClaimPath("dv", "hub_a")
    assert(lake.tryClaim(p, "compaction"))
    // the holder is mid-release: its registry entry is gone, its marker not yet
    Lake.claims.remove(qualify(p))
    FaultyFs.releaseOnClash = true
    try assert(!lake.tryClaim(p, "compaction"))
    finally FaultyFs.releaseOnClash = false
    assert(lake.tryClaim(p, "compaction"))
    lake.releaseClaim(p)
  }
}

object ClaimProtocolSpec {
  val Schedules = 200

  sealed trait Op { def onB: Boolean }
  final case class RunId(id: Int, onB: Boolean) extends Op
  final case class Ingest(file: Int, keep: Boolean, onB: Boolean) extends Op
  final case class Flow(onB: Boolean) extends Op
  final case class Load(nested: Boolean, onB: Boolean) extends Op
  final case class Compact(onB: Boolean) extends Op

  /** `crashed`: index of a marker present before the schedule starts. */
  final case class Schedule(threads: List[List[Op]], fault: Option[(String, Int)], crashed: Option[Int])

  final class InjectedFault(msg: String) extends java.io.IOException(msg)
}

/** The local filesystem under the `faulty://lake` store (a path with no
  * authority means this store too); throws an
  * [[ClaimProtocolSpec.InjectedFault]] at the k-th create (before it
  * happens), close (after the bytes land), delete or listStatus (before
  * it happens) once [[FaultyFs.arm]]ed, and counts listStatus calls per
  * directory ([[FaultyFs.listed]]). */
final class FaultyFs extends FilterFileSystem(new RawLocalFileSystem {
      override def getUri: URI = FaultyFs.Uri
      override protected def checkPath(path: Path): Unit = ()
    }) {
  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFs.hit("create")
    val out =
      try super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
      catch {
        case e: FileAlreadyExistsException if FaultyFs.releaseOnClash =>
          super.delete(f, false) // the holder's release lands right after the clash
          throw e
      }
    new FSDataOutputStream(out, null) {
      override def close(): Unit = { super.close(); FaultyFs.hit("close") }
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFs.hit("delete")
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    FaultyFs.hit("list")
    FaultyFs.listed.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger).incrementAndGet()
    super.listStatus(f)
  }
}

object FaultyFs {
  val Uri: URI = URI.create("faulty://lake/")

  @volatile private var plan: Option[(String, Int)] = None

  /** When set, a create that fails because the file exists deletes it
    * before throwing, as a holder releasing its marker in that window. */
  @volatile var releaseOnClash = false
  @volatile private var hitPlan = false
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  /** listStatus calls per directory (its path without scheme and
    * authority) since the last clear. */
  val listed = new ConcurrentHashMap[String, AtomicInteger]()

  /** Fail the k-th call of one operation from now on (None = no faults). */
  def arm(p: Option[(String, Int)]): Unit = synchronized {
    counts.clear()
    hitPlan = false
    plan = p
  }

  /** Whether the armed fault has fired. */
  def fired: Boolean = hitPlan

  def hit(op: String): Unit = plan.foreach { case (o, k) =>
    if (o == op && counts.computeIfAbsent(op, _ => new AtomicInteger).incrementAndGet() == k) {
      hitPlan = true
      throw new ClaimProtocolSpec.InjectedFault(s"injected fault: $op #$k")
    }
  }
}

package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.DriverSchema

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One checkpoint directory, the on-disk format of both engines' resume
  * (docs/CHECKPOINT.md). It holds immutable parquet PARTS, each written
  * once under a fresh name, and one JSON MANIFEST mapping the engine's
  * roles to parts. A save ([[publish]]) writes the parts this directory
  * does not hold yet as one concurrent wave, publishes the manifest by
  * ATOMIC_MOVE, then deletes every part the new manifest does not
  * reference. A kill at any byte of a save therefore leaves the previous
  * manifest pointing at intact parts; what the killed save wrote is an
  * unreferenced part, which [[read]] ignores and the next publish deletes.
  *
  * "Holds" means the same DataFrame reference was written here or
  * restored from here ([[part]]): every engine mutation replaces the
  * reference, so an unchanged frame is never rewritten, and a save into
  * another directory writes everything that directory lacks.
  */
private[graft] final class StateDir(spark: SparkSession, dir: String, manifest: String) {
  import StateDir._

  private val held = new java.util.IdentityHashMap[DataFrame, String]()
  /** Part names start with the manifest's stem, so GC only ever deletes
    * parts of this manifest, even in a directory shared with another. */
  private val prefix = manifest.stripSuffix(".json") + "-"

  private def path(name: String): String = s"$dir/$name"

  /** Publish `doc` as the manifest. Values are strings, numbers, maps and
    * other collections; a DataFrame is written as the name of the part
    * that holds it. */
  def publish(doc: Map[String, Any]): Unit = {
    val fresh = new java.util.IdentityHashMap[DataFrame, String]()
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    def named(v: Any): Any = v match {
      case df: DataFrame @unchecked =>
        val name = Option(held.get(df)).getOrElse(fresh.computeIfAbsent(df,
          _ => s"$prefix${java.util.UUID.randomUUID()}.parquet"))
        live += name
        name
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> named(x) }.asJava
      case xs: Iterable[_] => xs.map(named).toSeq.asJava
      case x => x
    }
    val roles = ListMap("layout" -> Layout) ++ doc.map { case (k, v) => k -> named(v) }
    val text = json.writeValueAsString((roles + ("parts" -> live.toSeq.asJava)).asJava)
    awaitWrites(fresh.asScala.toSeq.map { case (df, name) =>
      () => df.write.parquet(path(name))
    })
    // The wave succeeded: only now does this directory claim the parts,
    // so a failed save leaves every frame re-writable.
    held.putAll(fresh)
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s"$manifest.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, Paths.get(dir, manifest),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // Best effort: a part left behind is garbage, never a hazard.
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith(prefix) && !live(n))
      .foreach(n => try graft.core.Fs.deleteRecursively(path(n))
        catch { case _: Exception => () })
    held.values.retainAll(live.asJava)
  }

  /** The published manifest after checking that it is this layout and
    * that every part it references exists, so a caller that reads it
    * first never half-restores. Throws [[Unreadable]]. */
  def read(): JsonNode = {
    val file = Paths.get(dir, manifest)
    if (!Files.isRegularFile(file)) throw new Unreadable(dir, s"no $manifest")
    val root = try json.readTree(Files.readString(file)) catch {
      case e: java.io.IOException => throw new Unreadable(dir,
        s"$manifest is not JSON (${String.valueOf(e.getMessage).split("\n")(0)})")
    }
    if (root.path("layout").asInt() != Layout) throw new Unreadable(dir,
      s"$manifest is not a layout-$Layout manifest (state saved by an older " +
        "version cannot be resumed)")
    root.path("parts").elements().asScala.map(_.asText())
      .find(p => !Files.isDirectory(Paths.get(dir, p)))
      .foreach(p => throw new Unreadable(dir, s"part $p is missing"))
    root
  }

  /** A part named by the manifest, read through `f`; this directory holds it. */
  def part(name: String, f: DataFrame => DataFrame = identity): DataFrame =
    hold(f(DriverSchema.read(spark, path(name), "parquet")), name)

  /** Record that this directory holds `df` as part `name`, so a later
    * publish references the part instead of rewriting it. */
  private def hold(df: DataFrame, name: String): DataFrame = { held.put(df, name); df }

  /** `df` read back from the part this directory holds for it, with
    * `df`'s schema (no inference job): the result reads only that part,
    * which stays live until a publish stops referencing it. */
  def reread(df: DataFrame): DataFrame = {
    val name = held.get(df)
    hold(spark.read.schema(df.schema).parquet(path(name)), name)
  }

  /** Run independent part writes as ONE concurrent wave (Spark schedules
    * jobs from multiple threads fine) and wait for ALL of them —
    * including the siblings of a failed write, so no zombie write can
    * race a retry. A save used to pay each write job sequentially —
    * scheduler latency × write count per save; the wave pays ~one.
    */
  private def awaitWrites(writes: Seq[() => Unit]): Unit =
    if (writes.size <= 1) writes.foreach(_.apply())
    else {
      import scala.concurrent.{Await, Future, TimeoutException}
      import scala.concurrent.duration._
      implicit val ec = saveEc
      // A bounded wait, not Duration.Inf: the wave runs on the SHARED
      // save pool, so one silently hung write would otherwise block
      // every future save in the JVM with zero diagnostic. Generous (a
      // checkpoint write should take seconds).
      // Each write runs under one cancellable job group so a timeout can
      // KILL the stragglers before the save is reported failed — a retry
      // must never race a zombie write to the same checkpoint path (the
      // invariant this wave exists to guarantee). cancelJobGroup is not
      // sticky (it only kills jobs active at that instant), so a shared
      // flag ALSO gates each write: a queued future that starts after
      // the cancel never submits its job at all.
      val group = s"graft-save-wave-${java.util.UUID.randomUUID()}"
      val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sc = spark.sparkContext
      val settled = Future.sequence(writes.map(w => Future {
        if (cancelled.get) throw new IllegalStateException(
          "write skipped: the save wave was already cancelled")
        sc.setJobGroup(group, "graft checkpoint write wave",
          interruptOnCancel = true)
        try w() finally sc.clearJobGroup()
      }.transform(scala.util.Success(_))))
      val results = try Await.result(settled, SaveTimeoutSec.seconds) catch {
        case e: TimeoutException =>
          cancelled.set(true)
          sc.cancelJobGroup(group)
          val drained = try { Await.result(settled, 60.seconds); true }
            catch { case _: TimeoutException => false }
          // cancelJobGroup is not sticky: a queued write that passed the
          // `cancelled` check before the flag was set can submit its
          // Spark job AFTER the first cancellation fired. Re-issue after
          // the drain (and once more before throwing) so late-submitted
          // jobs in the group are also killed (ADVICE r11).
          sc.cancelJobGroup(group)
          throw new IllegalStateException(
            s"checkpoint write wave (${writes.size} writes) exceeded " +
              s"$SaveTimeoutSec s and was cancelled" +
              (if (drained) "" else " — and some writes did NOT settle " +
                "within the 60 s grace period; the shared save pool may " +
                "be compromised"), e)
      }
      // Surface EVERY failed sibling, not just the first: the retry
      // decision needs to know whether one table or the whole store
      // misbehaved.
      val failures = results.collect { case scala.util.Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.drop(1).foreach(first.addSuppressed)
        throw first
      }
    }
}

private[graft] object StateDir {
  /** Written into every manifest; a manifest without it is rejected. */
  val Layout = 2

  private val SaveTimeoutSec = 3600L

  private val json = new ObjectMapper()

  /** A state directory that cannot be resumed from; the message is one
    * line, `Cannot read state from <dir>: <reason>`. */
  final class Unreadable(dir: String, reason: String)
    extends RuntimeException(s"Cannot read state from $dir: $reason")

  /** Shared pool for write waves (daemon threads so a dying application
    * never hangs on it; sized for the widest realistic save wave, not for
    * throughput — each task just blocks on a Spark job). */
  private lazy val saveEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-save-${n.getAndIncrement()}")
            t.setDaemon(true)
            t
          }
        }))
}

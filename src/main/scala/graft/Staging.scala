package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Derived inputs staged once per fixture under `/tmp`, and the scratch
  * dirs and session confs the checkpointed streaming keys run with.
  *
  * A staged dir is a pure function of a fixture's content: it is reused
  * across keys, samples and JVMs while its `_STAGED` marker holds the
  * fixture's current [[fingerprint]], and rebuilt otherwise. Staged dirs
  * live under the literal `/tmp`, not `java.io.tmpdir`, so a run that
  * points the JVM temp dir at a throwaway dir still reuses them.
  */
object Staging {
  def rmr(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  /** The fixture's dir name made safe for a staged-dir name. */
  def tag(d: String): String =
    new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")

  /** Publish a fully built `tmp` at `dst` by rename: the previous
    * generation is moved aside, `tmp` lands at `dst` in one rename, and
    * only then is the old generation deleted. A reader never sees a
    * half-written `dst`. Both paths must share a filesystem. A concurrent
    * publisher that wins the race makes our second rename throw; the
    * caller re-verifies the marker and adopts the identical winner.
    */
  def atomicPublishDir(tmp: Path, dst: Path): Unit = {
    val retired = Paths.get(s"$dst.old.${ProcessHandle.current().pid()}")
    var published = false
    try {
      if (Files.exists(dst))
        Files.move(dst, retired, StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      published = true
    } finally {
      // A failed move-in after the old generation was retired rolls it
      // back, so a failed publish never leaves `dst` absent. The retired
      // copy is deleted only once a generation sits at `dst`.
      if (!published && !Files.exists(dst) && Files.exists(retired))
        try Files.move(retired, dst, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: Throwable => () }
      if (Files.exists(dst))
        try rmr(retired) catch { case _: Throwable => () }
    }
  }

  /** Stage `dir` once per `fingerprint`. When `dir/_STAGED` does not hold
    * `fingerprint` (first run, regenerated fixture, interrupted or
    * unreadable marker), `build` writes the new generation into the
    * pid-unique sibling `$dir.tmp.<pid>`; the marker is written last and
    * the sibling is published with [[atomicPublishDir]]. A failed build
    * rethrows and leaves the live generation untouched; losing the
    * publish race to an identical generation adopts it.
    */
  def once(dir: String, fingerprint: String)(build: Path => Unit): Unit = {
    val marker = Paths.get(dir, "_STAGED")
    def staged = scala.util.Try(Files.readString(marker)).toOption.contains(fingerprint)
    if (!staged) {
      val tmp = Paths.get(s"$dir.tmp.${ProcessHandle.current().pid()}")
      rmr(tmp)
      Files.createDirectories(tmp)
      try {
        build(tmp)
        Files.writeString(tmp.resolve("_STAGED"), fingerprint)
        atomicPublishDir(tmp, Paths.get(dir))
      } catch {
        case _: Throwable if staged => ()
      } finally rmr(tmp)
    }
  }

  /** On-disk signature of a fixture path, with no Spark job: a SHA-256
    * over the sorted (relative name, size, mtime in nanoseconds) listing
    * plus the file count. Any file added, removed, renamed, resized or
    * retouched changes it.
    */
  def fileSig(p: Path): String =
    if (!Files.exists(p)) "absent"
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val listing = fs.map { f =>
        val nanos = Files.getLastModifiedTime(f)
          .to(java.util.concurrent.TimeUnit.NANOSECONDS)
        s"${p.relativize(f)}:${Files.size(f)}:$nanos"
      }.sorted.mkString("\n")
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s"n=${fs.size};sha=${digest.take(12).map("%02x".format(_)).mkString}"
    }

  private val fpCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Content fingerprint of the fixture table at `file`, written into the
    * markers of the dirs staged from it: `rows=<count>;` then each
    * `extras` aggregate as `name=value;`, then `xor=` an order-independent
    * XOR of xxhash64 over `hashCols` of every row. A regeneration that
    * keeps the row count but changes any hashed value changes it. One
    * aggregate job, cached per (`file`, [[fileSig]]), so a fixture
    * rewritten mid-JVM is fingerprinted again.
    */
  def fingerprint(file: String, rows: => DataFrame, hashCols: Seq[String],
                  extras: (String, Column)*): String =
    fpCache.getOrElseUpdate(s"$file|${fileSig(Paths.get(file))}", {
      val xor = expr(s"bit_xor(xxhash64(${hashCols.mkString(", ")}))")
      val r = rows.agg(count(lit(1)), extras.map(_._2) :+ xor: _*).head()
      val fields = ("rows" -> r.get(0)) +:
        extras.map(_._1).zipWithIndex.map { case (k, i) => k -> r.get(i + 1) } :+
        ("xor" -> r.get(extras.size + 1))
      fields.map { case (k, v) => s"$k=$v" }.mkString(";")
    })

  /** [[fingerprint]] of the events fixture under `d`, guarding every dir
    * staged from events. `props` is hashed because staged copies carry
    * full rows.
    */
  def eventsFingerprint(s: SparkSession, d: String): String =
    fingerprint(s"$d/events.parquet", T.events(s, d),
      Seq("event_id", "ts", "event_type", "value", "user_id", "props"),
      "maxTs" -> max(col("ts")))

  /** Arrival-file schema gate, run on every staged arrival dir before its
    * stream starts. The file source with a declared schema NULL-fills a
    * column that a drifted file dropped, and a corrupt file fails only
    * once a micro-batch reads it; so every file the source will list has
    * its footer checked against `expected` first. A poisoned file fails
    * with one error naming it; extra columns are benign (the declared
    * schema ignores them). The staged dir is input, never rewritten here.
    * tools/degen_check.py's arrival_poison family probes it end to end.
    */
  def validateArrivals(s: SparkSession, in: String, expected: StructType): Unit = {
    // Gate exactly the file set the stream source lists: it does not
    // filter by extension. Mirror InMemoryFileIndex.shouldFilterOutPathName:
    // hidden = starts with "." / in-flight "._COPYING_" / starts with "_"
    // without "=", except the `_metadata`/`_common_metadata` names, which
    // the source does list.
    def sourceLists(name: String): Boolean = {
      val excluded = (name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")
      val readmitted =
        name.startsWith("_metadata") || name.startsWith("_common_metadata")
      !excluded || readmitted
    }
    val files = Option(new java.io.File(in).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && sourceLists(f.getName))
      .sortBy(_.getName)
    files.foreach { f =>
      val sch = try s.read.parquet(f.getPath).schema catch {
        case e: Throwable => throw new IllegalArgumentException(
          s"poisoned arrival file ${f.getName}: unreadable parquet footer " +
            s"(${e.getMessage})", e)
      }
      expected.fields.foreach { fld =>
        val got = sch.fields.find(_.name == fld.name)
        require(got.exists(_.dataType == fld.dataType),
          s"poisoned arrival file ${f.getName}: column ${fld.name} expected " +
            s"${fld.dataType.simpleString}, got " +
            got.map(_.dataType.simpleString).getOrElse("MISSING"))
      }
    }
  }

  /** The streaming keys that run real micro-batches on a fresh checkpoint
    * per invocation. Bench runs each selected one once, untimed, before
    * its timed samples.
    */
  val checkpointedKeys: Set[String] = Set(
    "stream_batch_equiv", "stream_late_drop", "stream_dedup",
    "stream_stateful_totals", "stream_stream_join", "pipeline_daily_e2e")

  /** Whether checkpoints go to RAM-backed `/dev/shm`; Bench reports the
    * regime from this value.
    */
  def ckptOnShm: Boolean = Files.isWritable(Paths.get("/dev/shm"))

  /** Fresh per-run checkpoint dir, on `/dev/shm` when writable. These
    * checkpoints are created fresh and deleted after the run, so their
    * durability does not matter; a deployment's checkpoint carries the
    * restart contract and belongs on durable shared storage.
    */
  def freshCkptDir(prefix: String): String =
    (if (ckptOnShm) Files.createTempDirectory(Paths.get("/dev/shm"), prefix)
     else Files.createTempDirectory(prefix)).toString

  /** Temp dir that outlives the returned lazy DataFrame (a streaming
    * sink's output must stay readable until the caller's action runs) and
    * is deleted at JVM exit, so repeated invocations do not leak dirs.
    */
  def tempDirReapedAtExit(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    sys.addShutdownHook { try rmr(p) catch { case _: Throwable => () } }
    p.toString
  }

  /** Run `body` with session confs temporarily set, restoring (or
    * unsetting) every key on all exit paths: a leaked conf would change
    * every later key's plan. Only explicitly set values are saved
    * (`getAll`): `conf.get` would return a key's default, and restoring
    * that would leave the key set.
    */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = s.conf.getAll
    val saved = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}

package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.graftbench.Recorder

import graft.streaming.{BatchLedger, Streams}

/** The local filesystem under the `forkless` scheme, without the
  * child processes: with no Hadoop native library, the `file` scheme
  * forks chmod on every create and stat on every
  * `FileContext.rename`, about 40 ms a ledger record, so 10,000
  * records would take minutes. Reads, writes and renames still go
  * through Hadoop's FileSystem and FileContext, as on any store
  * other than the local one.
  */
class ForklessLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = ForklessLocalFileSystem.uri
  override def setPermission(p: Path, perm: FsPermission): Unit = ()
  override def getFileStatus(p: Path): FileStatus = {
    val f = pathToFile(p)
    if (!f.exists) throw new FileNotFoundException(p.toString)
    new FileStatus(f.length, f.isDirectory, 1, getDefaultBlockSize(p),
      f.lastModified, makeQualified(p))
  }
  override def getFileLinkStatus(p: Path): FileStatus = getFileStatus(p)
}

object ForklessLocalFileSystem {
  val scheme = "forkless"
  val uri: URI = URI.create(s"$scheme:///")

  /** Register the scheme for FileSystem and for FileContext. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$scheme.impl", classOf[ForklessLocalFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$scheme.impl", classOf[ForklessLocalFs].getName)
  }
}

/** [[ForklessLocalFileSystem]] for FileContext. */
class ForklessLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForklessLocalFileSystem, conf,
    ForklessLocalFileSystem.scheme, false)

/** The exactly-once sinks' applied-batch ledger ([[Streams.ledgered]]
  * over [[BatchLedger]]) is a high-water mark. These cases drive the
  * primitive with a no-op apply on a local temp dir — no Spark job —
  * and hold the mark against a reference copy of the ledger it
  * replaced: the set of every applied id. The long runs address the
  * temp dir through [[ForklessLocalFileSystem]].
  */
class BatchLedgerSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-ledger").toString

  /** A target under `forkless:`; the ledger lands in the local dir. */
  private def forklessTarget(): String = {
    ForklessLocalFileSystem.register(spark.sparkContext.hadoopConfiguration)
    s"${ForklessLocalFileSystem.scheme}:${freshDir()}/target"
  }

  private def ledgerBytes(target: String): Long =
    Files.size(Paths.get(new Path(BatchLedger.path(target)).toUri.getPath))

  private final class InjectedCrash extends RuntimeException("injected crash")

  /** One call of the primitive with a no-op apply, crashing at the
    * seam between apply and record when `crash`.
    */
  private def deliver(target: String, id: Long, crash: Boolean): Boolean = {
    val prev = Streams.beforeRecord
    if (crash) Streams.beforeRecord = (_, _) => throw new InjectedCrash
    try Streams.ledgered(spark, target, id)(())
    finally Streams.beforeRecord = prev
  }

  test("the mark decides every apply/refuse as the applied-id set does, over seeded replay-contract id sequences") {
    val m = Recorder.measure(spark.sparkContext) {
      for (seed <- 1 to 6) {
        val rnd = new scala.util.Random(seed)
        val target = forklessTarget()
        var applied = Set.empty[Long] // the id-set ledger, as reference
        var last = -1L                // last id this checkpoint delivered
        var crashed = false           // did that delivery crash?
        for (step <- 1 to 250) {
          // the replay contract: a crashed batch is re-delivered with
          // the same id; otherwise the engine delivers the next id,
          // repeats the last one (a crash after the sink returned but
          // before the engine's commit), or a fresh checkpoint starts
          // again at 0
          val id =
            if (crashed) last
            else rnd.nextInt(20) match {
              case 0 => 0L
              case 1 | 2 if last >= 0 => last
              case _ => last + 1
            }
          val want = !applied.contains(id)
          val crash = want && rnd.nextInt(10) == 0
          val got =
            try deliver(target, id, crash)
            catch { case _: InjectedCrash => true }
          assert(got == want,
            s"seed $seed step $step id $id: mark says $got, id set says $want")
          if (want && !crash) applied += id
          last = id
          crashed = crash
        }
        assert(BatchLedger.mark(spark, target) == applied.max)
      }
    }
    assert(m.jobs.isEmpty, s"the ledger ran Spark jobs: ${m.jobs}")
  }

  test("a ledger in the one-id-per-line format reads as its maximum") {
    val target = freshDir() + "/target" // the local filesystem itself
    Files.write(Paths.get(BatchLedger.path(target)),
      "0\n1\n2\n7".getBytes("UTF-8"))
    assert(BatchLedger.mark(spark, target) == 7L)
    assert(!Streams.ledgered(spark, target, 7L)(()), "a ledgered id must refuse")
    assert(!Streams.ledgered(spark, target, 3L)(()), "an id below the max must refuse")
    assert(Streams.ledgered(spark, target, 8L)(()))
    assert(new String(Files.readAllBytes(Paths.get(BatchLedger.path(target))),
      "UTF-8") == "8")
    BatchLedger.reset(spark, target)
    assert(BatchLedger.mark(spark, target) == Long.MinValue)
    assert(Streams.ledgered(spark, target, 0L)(()), "a reset ledger applies batch 0")
  }

  test("after 10,000 batch ids the ledger holds at most 20 bytes") {
    val target = forklessTarget()
    val n = 10000
    val nanos = new Array[Long](n)
    val m = Recorder.measure(spark.sparkContext) {
      for (id <- 0 until n) {
        val t0 = System.nanoTime()
        assert(Streams.ledgered(spark, target, id.toLong)(()))
        nanos(id) = System.nanoTime() - t0
      }
    }
    assert(m.jobs.isEmpty, s"the ledger ran Spark jobs: ${m.jobs}")
    assert(ledgerBytes(target) <= 20L, s"${ledgerBytes(target)} ledger bytes")
    assert(BatchLedger.mark(spark, target) == n - 1L)
    def meanUs(from: Int) = nanos.slice(from, from + 1000).sum / 1000 / 1e3
    info(f"per-batch ledger time: first 1,000 ids ${meanUs(0)}%.0f us, " +
      f"last 1,000 ids ${meanUs(n - 1000)}%.0f us; " +
      s"${ledgerBytes(target)} ledger bytes")
  }
}

package graft.sources.connector

import graft.SparkSpec
import graft.sources.MessageStore

/** Delegating [[ManifestIO]] that counts every manifest-layer call and
  * every read per file name. */
final class CountingManifestIO(under: ManifestIO) extends ManifestIO {
  private val callCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val readNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def reset(): Unit = { callCount.set(0); readNames.clear() }
  def calls: Int = callCount.get()
  def reads(name: String => Boolean): Int = {
    var n = 0
    readNames.forEach(r => if (name(r)) n += 1)
    n
  }

  private def count[T](body: => T): T = { callCount.incrementAndGet(); body }

  override def listNames(dir: String): Seq[String] = count(under.listNames(dir))
  override def read(path: String): String = count {
    readNames.add(new java.io.File(path).getName)
    under.read(path)
  }
  override def write(path: String, content: String): Unit =
    count(under.write(path, content))
  override def createExclusive(path: String, content: String): Boolean =
    count(under.createExclusive(path, content))
  override def moveAtomic(src: String, dst: String): Unit =
    count(under.moveAtomic(src, dst))
  override def delete(path: String): Boolean = count(under.delete(path))
  override def exists(path: String): Boolean = count(under.exists(path))
  override def lastModified(path: String): Long = count(under.lastModified(path))
  override def touch(path: String): Unit = count(under.touch(path))
}

/** One operation loads the table's metadata once and parses each version
  * file once: the manifest-layer cost of the MessageStore request kinds,
  * counted through the [[TokenRangeSource.manifestIO]] seam. */
class TableMetaSpec extends SparkSpec {

  private val VersionFile = "v\\d+\\.manifest".r

  test("MessageStore reads and inserts read table metadata once per operation") {
    val ks = s"ks_meta_${System.nanoTime()}"
    val store = new MessageStore(spark, ks)
    store.createKeyspace()
    store.createTables()
    store.insertUsers((0 until 200).map(i =>
      (s"u$i", s"user$i", s"user$i@x.io", s"pw$i")))
    (0 until 4).foreach { b =>
      store.insertMessages((0 until 110).map(i =>
        ((b * 110 + i) % 40L, s"u${i % 200}", s"message $b.$i")))
    }
    val io = new CountingManifestIO(TokenRangeSource.manifestIO)
    val prev = TokenRangeSource.manifestIO
    TokenRangeSource.manifestIO = io
    try {
      // (table.properties reads, version-file reads, manifest-layer calls)
      def measure(op: => Unit): (Int, Int, Int) = {
        op // warm: the first run of a shape may plan differently
        io.reset()
        op
        (io.reads(_ == "table.properties"),
          io.reads(n => VersionFile.pattern.matcher(n).matches()), io.calls)
      }
      val reads = Seq(
        "page read" -> (() => { store.messages(7L).collect(); () }),
        "user read" -> (() => { store.user("user42").collect(); () }),
        "allMessages().count()" -> (() => { store.allMessages().count(); () }),
        "listUsers()" -> (() => { store.listUsers().collect(); () }))
      reads.foreach { case (name, op) =>
        val (props, versions, calls) = measure(op())
        info(s"$name: table.properties $props, version files $versions, calls $calls")
        assert(props <= 1, s"$name read table.properties $props times")
        assert(versions <= 1, s"$name read a version file $versions times")
        assert(calls <= 20, s"$name made $calls manifest-layer calls")
      }
      var n = 0L
      val (props, _, calls) = measure {
        n += 1
        store.insertMessages(Seq((1000L + n, "u1", "a"), (2000L + n, "u2", "b")))
      }
      info(s"2-row insertMessages: table.properties $props, calls $calls")
      assert(props <= 2, s"a 2-row insert read table.properties $props times")
      assert(calls <= 43, s"a 2-row insert made $calls manifest-layer calls")
    } finally {
      TokenRangeSource.manifestIO = prev
      store.dropKeyspace()
    }
  }
}

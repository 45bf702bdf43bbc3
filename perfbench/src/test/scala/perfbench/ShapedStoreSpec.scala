package perfbench

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Self-check of the shaped store: a read of N bytes takes at least
  * delay + N / cap, and every request and byte is counted exactly. */
class ShapedStoreSpec extends AnyFunSuite {
  private val delayMs = 20.0
  private val mbps = 50.0
  private val n = 1 << 20

  private def withStore(body: (ShapedFileSystem, Path, Array[Byte]) => Unit): Unit = {
    val dir = Files.createTempDirectory("shaped-spec")
    val data = Content.bytes(Content.key(1L, 0, 0), n)
    val file = dir.resolve("blob.bin")
    Files.write(file, data)
    val conf = new Configuration()
    conf.set(ShapedFileSystem.DelayKey, delayMs.toString)
    conf.set(ShapedFileSystem.MbpsKey, mbps.toString)
    val fs = new ShapedFileSystem
    fs.initialize(URI.create("shaped:///"), conf)
    try body(fs, new Path(s"shaped://$file"), data)
    finally { fs.close(); file.toFile.delete(); dir.toFile.delete() }
  }

  private def delta(before: Map[String, Long]): Map[String, Long] =
    ShapedFileSystem.stats.snapshot.map { case (k, v) => k -> (v - before(k)) }

  test("a positioned read of N bytes is one GET taking delay + N/cap") {
    withStore { (fs, p, data) =>
      val in = fs.open(p)
      val buf = new Array[Byte](n)
      val before = ShapedFileSystem.stats.snapshot
      val t0 = System.nanoTime()
      in.readFully(0L, buf)
      val ms = (System.nanoTime() - t0) / 1e6
      in.close()
      val d = delta(before)
      assert(ms >= delayMs + n / (mbps * 1e6) * 1000, s"took only $ms ms")
      assert(d("gets") == 1 && d("heads") == 0 && d("lists") == 0)
      assert(d("bytes") == n)
      assert(d("injected_ns") > 0 && d("busy_ns") >= d("injected_ns"))
      assert(java.util.Arrays.equals(buf, data))
    }
  }

  test("contiguous sequential reads share one GET; a seek opens another") {
    withStore { (fs, p, data) =>
      val in = fs.open(p)
      val buf = new Array[Byte](4096)
      val before = ShapedFileSystem.stats.snapshot
      (0 until 3).foreach(_ => in.readFully(buf))
      assert(delta(before)("gets") == 1)
      in.seek(n / 2)
      in.readFully(buf)
      in.close()
      val d = delta(before)
      assert(d("gets") == 2)
      assert(d("bytes") == 4 * 4096)
      assert(java.util.Arrays.equals(buf, data.slice(n / 2, n / 2 + 4096)))
    }
  }

  test("HEAD and LIST cost one request each; LIST bodies count as bytes") {
    withStore { (fs, p, _) =>
      val before = ShapedFileSystem.stats.snapshot
      val t0 = System.nanoTime()
      assert(fs.getFileStatus(p).getLen == n)
      val listed = fs.listStatus(p.getParent)
      val ms = (System.nanoTime() - t0) / 1e6
      val d = delta(before)
      assert(ms >= 2 * delayMs)
      assert(d("heads") == 1 && d("lists") == 1 && d("gets") == 0)
      assert(listed.length == 1 && listed.head.getPath.toUri.getScheme == "shaped")
      assert(d("bytes") ==
        ShapedFileSystem.ListBaseBytes + ShapedFileSystem.ListEntryBytes * listed.length)
    }
  }
}

package graft.sources

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** [[AtomicFile]] on the local filesystem: a reader racing a committing
  * writer sees the old text or the new one — never no file, a
  * truncated file or a checksum error. */
class AtomicFileSpec extends AnyFunSuite {

  test("a reader racing repeated local commits never sees a missing or mismatched pointer") {
    val conf = new Configuration()
    val dir = java.nio.file.Files.createTempDirectory("atomic_file").toString
    val ptr = s"$dir/.ptr_postings"
    val values = (1 to 2).map(i => s".gen_postings_${"x" * (i * 7)}$i")
    try {
      AtomicFile.write(conf, ptr, values.head)
      val commits = 3000
      @volatile var done = false
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      var reads = 0L
      var bad = 0L
      val reader = new Thread(() => {
        while (!done) {
          val got =
            try AtomicFile.read(conf, ptr).getOrElse("<no file>")
            catch { case e: Throwable => s"<${e.getClass.getSimpleName}: ${e.getMessage}>" }
          if (!values.contains(got)) { bad += 1; if (seen.size < 100) seen.add(got) }
          reads += 1
        }
      })
      reader.start()
      try (1 to commits).foreach(i => AtomicFile.write(conf, ptr, values(i % 2)))
      finally { done = true; reader.join() }
      assert(reads > 0)
      val sample = seen.toArray.distinct.take(5).mkString(", ")
      assert(bad == 0L, s"of $reads reads: $sample")
      assert(AtomicFile.read(conf, ptr).contains(values(commits % 2)))
      // the commit leaves no tmp file and no stale checksum behind
      assert(new java.io.File(dir).list().toSet == Set(".ptr_postings"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}

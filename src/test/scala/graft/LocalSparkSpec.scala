package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class LocalSparkSpec extends AnyFunSuite {

  private val tmp = System.getProperty("java.io.tmpdir")

  test("a missing candidate dir falls back to java.io.tmpdir") {
    val missing = new File(tmp, s"graft_no_such_dir_${System.nanoTime()}")
    assert(!missing.exists())
    assert(LocalSpark.chooseScratch(missing, 0L) == tmp)
  }

  test("an existing dir is chosen when it has the minimum free space") {
    val d = Files.createTempDirectory("graft_scratch_spec").toFile
    try assert(LocalSpark.chooseScratch(d, 0L) == d.getPath)
    finally d.delete()
  }

  test("an existing dir with less than the minimum free space falls back") {
    val d = Files.createTempDirectory("graft_scratch_spec").toFile
    try assert(LocalSpark.chooseScratch(d, Long.MaxValue) == tmp)
    finally d.delete()
  }

  test("a regular file is not a scratch dir") {
    val f = Files.createTempFile("graft_scratch_spec", ".txt").toFile
    try assert(LocalSpark.chooseScratch(f, 0L) == tmp)
    finally f.delete()
  }
}

package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Bench's driver-side checks that run no Spark job. */
class BenchSpec extends AnyFunSuite {

  test("the contention gate applies to a baseline of the same sf dir however it is spelled") {
    val root = Files.createTempDirectory("graft-bench-sf")
    val sf = Files.createDirectory(root.resolve("sf0.1"))
    val other = Files.createDirectory(root.resolve("sf0.01"))
    val link = Files.createSymbolicLink(root.resolve("sf-link"), sf)
    try {
      val dir = sf.toString
      Seq(dir, s"$dir/", s"$other/../sf0.1", link.toString).foreach { d =>
        assert(Bench.sameSfDir(d, dir), d)
        assert(Bench.sameSfDir(dir, d), d)
      }
      val cwd = java.nio.file.Paths.get("").toAbsolutePath
      assert(Bench.sameSfDir(cwd.relativize(sf).toString, dir))
      assert(!Bench.sameSfDir(other.toString, dir))
      assert(!Bench.sameSfDir(s"$root/sf1", dir))
    } finally Seq(link, other, sf, root).foreach(Files.delete)
  }
}

package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.internal.SQLConf

import graft.core.{PosixLocalFileSystem, Sessions, Tables}
import graft.ts.SeriesStore

/** The library reads session config and never writes it: a query's
  * settings are the session's own, whatever ran before it. Sessions built
  * by `Sessions.tune` reach `file:` paths through [[PosixLocalFileSystem]].
  */
class SessionsSpec extends SparkSpec {

  test("loading a table leaves the session's conf unchanged") {
    val s = spark.newSession()
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
    s.conf.set("spark.sql.files.minPartitionNum", "1")
    val before = s.conf.getAll
    Tables(s, sfDir).documents
    assert(s.conf.getAll == before)
  }

  test("partsOf: an explicit count, else the session's shuffle width, else the conf's default") {
    assert(Sessions.partsOf(spark) == 4)
    assert(Sessions.partsOf(spark, parts0 = 7) == 7)
    val s = spark.newSession()
    s.conf.unset(SQLConf.SHUFFLE_PARTITIONS.key)
    assert(Sessions.partsOf(s) == SQLConf.SHUFFLE_PARTITIONS.defaultValue.get)
  }

  /** The mode bits `fs` gives a file it creates (and its checksum file)
    * and a directory it makes, under `dir`.
    */
  private def modesOf(fs: FileSystem, dir: String): Seq[String] = {
    val file = new Path(dir, "f.bin")
    val out = fs.create(file, false)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(fs.mkdirs(new Path(dir, "d/e")))
    Seq("f.bin", ".f.bin.crc", "d", "d/e").map(n =>
      PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(dir, n))))
  }

  private def initialized(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("the store's file: FileSystem sets the stock local FileSystem's mode bits without forking") {
    val store = new SeriesStore(spark, tmpDir("graft-fs"))
    val fs = store.fs
    assert(fs.isInstanceOf[PosixLocalFileSystem], fs.getClass.getName)
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = initialized(new LocalFileSystem(new RawLocalFileSystem), conf)
    val want = modesOf(stock, tmpDir("graft-fs-stock"))
    assert(want == Seq("rw-r--r--", "rw-r--r--", "rwxr-xr-x", "rwxr-xr-x"))
    assert(modesOf(fs, tmpDir("graft-fs-posix")) == want)

    val strict = new Configuration(conf)
    strict.set("fs.permissions.umask-mode", "077")
    val wantStrict = modesOf(initialized(new LocalFileSystem(new RawLocalFileSystem), strict),
      tmpDir("graft-fs-stock077"))
    assert(wantStrict == Seq("rw-------", "rw-------", "rwx------", "rwx------"))
    assert(modesOf(initialized(new PosixLocalFileSystem, strict), tmpDir("graft-fs-posix077")) ==
      wantStrict)
  }
}

package graft.core

import scala.util.control.NonFatal

/** Temp dirs that live as long as the JVM — the gate queries' rollup and
  * log fixtures, the tag tables' base segments: created on demand under
  * `java.io.tmpdir` and deleted by one shutdown hook at JVM exit. */
object TempDirs {
  private val jvmDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]
  Runtime.getRuntime.addShutdownHook(
    new Thread(() => jvmDirs.forEach(d => rmTree(d)), "graft-jvm-temp-dirs"))

  /** A fresh `prefix` temp dir, deleted at JVM exit. */
  def forJvm(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    jvmDirs.add(d)
    d
  }

  /** Delete `path` and everything under it; best effort. */
  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete()
    }
    try rm(new java.io.File(path)) catch { case NonFatal(_) => }
  }
}

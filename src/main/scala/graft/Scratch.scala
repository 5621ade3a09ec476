package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.network.util.JavaUtils

/** One scratch root per JVM for per-run directories: streaming-gate
  * checkpoints and output dirs, the gate TLS key material, persisted
  * index layouts, test warehouses. The root is
  * `java.io.tmpdir/graft-scratch-<pid>`, created on the first [[dir]]
  * call together with one shutdown hook that deletes it, so nothing
  * accumulates in the temp dir across runs. Until then nothing is
  * touched: loading this object has no side effect. Directories live
  * until the JVM exits, so a query may return a lazy read of its output
  * dir. */
object Scratch {
  private lazy val root: Path = {
    val r = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-scratch-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r), "graft-scratch-cleanup"))
    r
  }

  /** A fresh, empty directory under the root, its name prefixed by `tag`. */
  def dir(tag: String): Path = Files.createTempDirectory(Files.createDirectories(root), tag)

  /** The path `name` under the root, which is created; the path itself
    * is not. The same name gives the same path for the life of the JVM,
    * so a writer that overwrites it keeps one copy. */
  def fixed(name: String): Path = Files.createDirectories(root).resolve(name)

  /** Deletes `tree` and everything under it: the shutdown hook's body. */
  private[graft] def delete(tree: Path): Unit = JavaUtils.deleteRecursively(tree.toFile)
}

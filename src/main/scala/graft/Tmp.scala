package graft

/** JVM-exit-reaped temp fixtures. Query fixtures (imfile trees,
  * dynafile output dirs, dead-letter spools, rulebase files) must
  * outlive the lazily-evaluated DataFrames that read them, so the only
  * safe reap point is JVM exit (StreamGate's file-sink dirs register
  * here for the same reason). Verify/Bench are one-shot JVMs and sbt
  * test exits after the suites, so the hook always runs; before it,
  * repeated local gate runs were accumulating hundreds of fixture dirs
  * under /tmp.
  */
object Tmp {
  private val paths = java.util.Collections.synchronizedList(
    new java.util.ArrayList[java.nio.file.Path]())

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      paths.forEach { d =>
        try Files.walk(d).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        catch { case _: Throwable => }
      }
    }))
  }

  /** Register an externally-created path for exit reaping. */
  def register(p: java.nio.file.Path): java.nio.file.Path = { paths.add(p); p }

  def dir(prefix: String): java.nio.file.Path =
    register(java.nio.file.Files.createTempDirectory(prefix))

  def file(prefix: String, suffix: String): java.io.File = {
    val f = java.io.File.createTempFile(prefix, suffix)
    register(f.toPath)
    f
  }
}

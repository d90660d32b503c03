package graft

/** A scratch directory that lives exactly as long as one piece of
  * work: created under the JVM temp dir, handed to `body`, and removed
  * with everything in it when `body` returns or throws
  * (`File.deleteOnExit` is no substitute: it is a no-op on a non-empty
  * directory). A caller whose result is lazily backed by files in the
  * tree must materialize it (`localCheckpoint`, `collect`) inside
  * `body`.
  */
object Scratch {
  def withDir[T](prefix: String)(body: java.io.File => T): T = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    try body(base) finally rm(base)
  }
}

package graft.queries

/** Temp-dir placement for the streaming gates (q214/q215/q216): a
  * `foreachBatch` cycle writes dozens of small checkpoint/commit files
  * with fsync between micro-batches, so on a box whose /tmp is a
  * contended disk the gate's wall time measures the DISK, not the engine
  * — q214's committed 4.78 s ran 10.5–15.7 s on the round-12 driver box,
  * a 2–3× swing entirely outside the code (VERDICT r12 finding #4).
  * Prefer tmpfs (/dev/shm) when it is writable: checkpoint fsyncs become
  * memory stores and the measurement converges across boxes. Falls back
  * to the JVM default temp dir otherwise. Gate artifacts are small by
  * construction (sf-scaled slices, cleaned in each gate's finally), so
  * tmpfs capacity is not a concern.
  */
object GateTmp {
  private lazy val base: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Which base this process resolved, plus its free bytes — the silent
    * /dev/shm → java.io.tmpdir fallback (or a near-full tmpfs) is exactly
    * the cross-box variable the r14 q214 swing investigation could not see,
    * so the bench record now carries it (VERDICT r14 finding #3).
    */
  def info: (String, Long) = {
    val free = try java.nio.file.Files.getFileStore(base).getUsableSpace
      catch { case _: Exception => -1L }
    (base.toString, free)
  }

  /** A fresh temp directory under the fast base — drop-in for
    * `Files.createTempDirectory(prefix)`.
    */
  def dir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(base, prefix)

  /** `body` over a fresh [[dir]], deleted when `body` returns or throws — a
    * lazy result must not read the directory after return.
    */
  def within[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val d = dir(prefix)
    try body(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }
}

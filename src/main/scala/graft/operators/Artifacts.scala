package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** JVM-lifetime build-once cache for derived relations that several
  * registry queries consume — the U11 persisted-index convention
  * (`saveIvfIndex` / `dedupAgainstIndex`) applied to shared query
  * chains: the FIRST caller per (JVM, dataset) materializes the
  * expensive derivation as parquet; every later caller reads the stored
  * skinny tables. At 100 TB this is the honest shape — a co-purchase
  * graph or a corpus's duplicate-cluster labels are published tables a
  * report consumes, not chains each report re-runs (the reference's
  * dashboard caches query results for exactly this reason,
  * `src/app/streamlit_app.py:149`'s st.cache_data).
  *
  * Correctness contract: the builder must be DETERMINISTIC (all of ours
  * are — integer/md5 arithmetic, total orders), and `ArtifactSpec` pins
  * consume-path ≡ build-path row-for-row. The cache key includes the
  * dataset dir, so sf0.001 specs, sf0.01 verification, and sf0.1 bench
  * runs never share an artifact; the root is a fresh per-JVM temp dir,
  * deleted at JVM exit, so a stale artifact cannot outlive the process
  * that built it.
  */
private[graft] object Artifacts {

  private lazy val root = tempDir("graft_artifacts")

  private val exitDeletes = new ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(exitDeletes.forEach(d => deleteRecursively(d)))

  /** A fresh temp dir named by `prefix`, deleted with its contents when
    * the JVM exits: the one exit-cleanup path, for the artifact root and
    * the specs' temp dirs alike. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    exitDeletes.add(dir)
    dir.toString
  }

  private val built = new ConcurrentHashMap[String, String]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Directory holding the artifact for `key`, building it exactly once
    * per JVM via `build(dir)` on first request.
    *
    * Once-only locking is a per-KEY monitor, NOT computeIfAbsent over
    * the shared map: artifact builders COMPOSE (the LPA label build
    * reads the co-purchase artifact), and a nested dirFor inside a
    * computeIfAbsent mapping function throws IllegalStateException
    * ("Recursive update") — hit the first time a dependent artifact was
    * the first builder on a fresh dataset. Distinct keys take distinct
    * monitors, so nesting is deadlock-free; concurrent first callers on
    * the SAME key serialize on its monitor and the loser reads the
    * winner's directory. A throwing build deletes its partial output
    * and leaves no mapping, so the next caller retries cleanly instead
    * of hitting PATH_ALREADY_EXISTS on the parquet write. */
  def dirFor(key: String, build: String => Unit): String = {
    val hit = built.get(key)
    if (hit != null) return hit
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val again = built.get(key)
      if (again != null) return again
      val dir = s"$root/${java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString}"
      try build(dir)
      catch {
        case t: Throwable =>
          deleteRecursively(new java.io.File(dir))
          throw t
      }
      built.put(key, dir)
      dir
    }
  }

  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
}

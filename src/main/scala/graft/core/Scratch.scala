package graft.core

/** Per-JVM scratch directories for queries that must write as a side
  * effect (sink round-trips, the persisted IVF index), and the one
  * build-once cache for per-JVM fixtures. One UUID base per JVM keeps
  * concurrent harness runs on one machine disjoint; a shutdown hook
  * removes the whole base recursively, so bench/verify JVMs don't
  * strand corpus-sized directories in tmp (every oracle that checks
  * these queries recomputes relationally or reads a committed golden —
  * nothing reads the scratch after JVM exit).
  */
object Scratch {

  private lazy val base: java.io.File = {
    val d = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_run_${java.util.UUID.randomUUID().toString.take(8)}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d)))
    d
  }

  private def deleteRec(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Absolute path of a per-JVM scratch subdirectory. */
  def dir(name: String): String = {
    val d = new java.io.File(base, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** One key's slot: the value once a build has succeeded. Its monitor
    * makes concurrent callers of the key wait for the one build. */
  private final class Slot {
    private var value: Option[Any] = None
    def get(build: => Any): Any = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
  }

  private val slots =
    new java.util.concurrent.ConcurrentHashMap[String, Slot]()

  /** The value `build` returns for `key`, built once per JVM: keyed
    * fixtures that are deterministic (trained codebooks, stored
    * indexes, replayed stream state), so caching cannot change
    * results. Concurrent callers of one key run `build` once. The
    * build runs outside the map's own update, holding only its key's
    * slot, so it may itself call `once` for another key. A build that
    * throws caches nothing: the next call builds again. */
  def once[A](key: String)(build: => A): A =
    slots.computeIfAbsent(key, _ => new Slot).get(build).asInstanceOf[A]

  /** The directory form of [[once]]: `build` writes a per-JVM fixture
    * for the dataset at `sfDir` into `dir(name)/<digest of sfDir>`
    * (not created beforehand), once; returns that directory. */
  def onceDir(name: String, sfDir: String)(build: String => Unit): String = {
    val d = s"${dir(name)}/" + java.util.UUID.nameUUIDFromBytes(
      sfDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    once(d) { build(d); d }
  }
}

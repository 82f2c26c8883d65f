package graft.core

/** Cold-start class loading for the CLI. A cold `graft.Main` call loads
  * about 11,400 classes out of the Spark jar directory, each searched for
  * across some 290 jars, on the main thread, while the other cores idle.
  * [[start]] walks [[ClassList]] — those classes in the order a cold call
  * first loads them — on one daemon thread, so their search, parse and
  * define run on a spare core ahead of the main thread while the session
  * starts and the first plans are built.
  *
  * The walk only loads: `Class.forName(name, initialize = false, …)` runs
  * no static initializer, so it cannot change what the program does or
  * deadlock on class initialization, and a name that no longer resolves
  * costs one failed lookup and is skipped. `tools/classlist.py`
  * regenerates the list. */
object Preload {

  /** Starts the walk over [[ClassList]] on a daemon thread and returns. */
  def start(): Unit = {
    val loader = getClass.getClassLoader
    val walk = new Thread(() => { load(ClassList.names, loader); () }, "graft-preload")
    walk.setDaemon(true)
    walk.start()
  }

  /** Loads each of `names` through `loader`, in order, without initializing
    * it; a name that fails to load is skipped. Returns how many loaded. */
  def load(names: Iterator[String], loader: ClassLoader): Int =
    names.count { name =>
      try { Class.forName(name, false, loader); true }
      catch { case _: ReflectiveOperationException | _: LinkageError => false }
    }
}

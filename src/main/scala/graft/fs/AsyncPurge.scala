package graft.fs

/** Background deletion of RETIRED directory trees (guide §1.2: remove
  * work from the critical path before tuning what remains).
  *
  * Recursive deletes of dead trees — a dropped table's previous
  * incarnation, a finished streamed-run's source/sink/checkpoint temp
  * tree — sat INSIDE the timed query path (BenchProfile: 18–20
  * `deleteImpl` samples ≈ 0.4 s per lake/streamed row). Nothing reads
  * a dead tree, so the only contract is "the PATH is gone when the
  * call returns"; the caller achieves that with an O(1) same-device
  * rename into a hidden trash sibling (or by owning a uniquely-named
  * temp dir nobody else can see) and hands the physical purge here.
  *
  * Delivery guarantee: a daemon worker drains the queue; a JVM
  * shutdown hook drains what remains and waits briefly for the
  * worker's in-flight task (both bounded), so a normal exit is
  * garbage-free except when the drain deadline itself expires — that
  * window, like a hard kill, leaves only already-renamed trash that
  * the NEXT purge in the same location sweeps. Failures are logged,
  * never thrown: a stray undeleted tree costs disk, not
  * correctness. */
object AsyncPurge {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val queue =
    new java.util.concurrent.LinkedBlockingQueue[() => Unit]()
  private val started = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Tasks submitted and not yet finished, queued or running: raised
    * before a task is queued, lowered after it ran — so a task the
    * worker has dequeued but not finished still counts, and [[drain]]
    * waits on this alone. */
  private val pendingTasks = new java.util.concurrent.atomic.AtomicInteger(0)

  private def ensureWorker(): Unit =
    if (started.compareAndSet(false, true)) {
      val t = new Thread(() => {
        while (true) {
          run(queue.take())
        }
      }, "graft-async-purge")
      t.setDaemon(true)
      t.start()
      sys.addShutdownHook(drain(30000L))
      ()
    }

  private def run(task: () => Unit): Unit =
    try task() catch {
      case e: Throwable => log.warn(s"async purge failed: $e")
    } finally pendingTasks.decrementAndGet()

  /** Queue a purge task (idempotent deletion work only). */
  def submit(task: () => Unit): Unit = {
    ensureWorker()
    pendingTasks.incrementAndGet()
    queue.put(task)
  }

  /** Best-effort synchronous drain (shutdown hook / test seam): runs
    * queued purges on the calling thread, then waits, up to the
    * deadline, until no submitted task is pending — including one the
    * worker has dequeued and is still running. Every task DEQUEUED
    * here runs — the deadline only stops further dequeuing (an
    * already-polled task must not be dropped). */
  def drain(timeoutMs: Long): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var task = queue.poll()
    while (task != null) {
      run(task)
      task = if (System.nanoTime() < deadline) queue.poll() else null
    }
    while (pendingTasks.get() > 0 && System.nanoTime() < deadline)
      Thread.sleep(5L)
  }
}

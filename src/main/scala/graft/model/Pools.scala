package graft.model

import java.util.concurrent.{Callable, CancellationException, ExecutionException,
  ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.AtomicReference

import scala.util.control.NonFatal

/** One bounded-pool map, shared by every overlap-independent-jobs
  * site (guide §2.6): the bench's untimed artifact passes, the
  * curation pipeline's accounting reads, the stage probe, the sharded
  * serves' segment builds and the determinism suite — one
  * implementation means one place for the semantics: input order
  * preserved in the result, the pool always shut down, and the FIRST
  * failure (in completion order) rethrown as the element's own
  * exception, not its `ExecutionException` wrapper. A failure cancels
  * the rest: elements still queued never run `f`, and running ones
  * are interrupted (`shutdownNow`). */
object Pools {
  def mapConcurrent[A, B](xs: Seq[A], par: Int)(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(par, 1))
    val done = new ExecutorCompletionService[B](pool)
    val failed = new AtomicReference[Throwable]()
    try {
      val futs = xs.map { x =>
        done.submit(new Callable[B] {
          def call(): B =
            if (failed.get != null)
              throw new CancellationException("an earlier element failed")
            else try f(x) catch {
              case NonFatal(e) => failed.compareAndSet(null, e); throw e
            }
        })
      }
      // a skipped element only exists after `failed` is set, so the
      // recorded failure wins over any skip that completes before it
      futs.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            throw Option(failed.get).getOrElse(e.getCause)
        }
      }
      futs.map(_.get())
    } finally pool.shutdownNow()
  }
}

package graft

/** Shared fixed ForkJoinPool for coarse task-level concurrency (the
  * gold runner's independent transforms, fixture-lake writes, audit
  * readbacks, Verify's query fan-out). One JVM-wide pool instead of a
  * fresh never-shutdown pool per call site — g08 alone used to mint
  * two pools per bench invocation. 8-way (r18): the gold runner has 7
  * independent transforms and JobProfile read its average concurrency
  * (job seconds over wall; tools/QueryAb now prints JobProfile's jobs,
  * job-seconds and gap columns) pegged at ~3.3 with the old 4-wide pool — the pool, not the
  * scheduler, was the binding constraint (guide §2.6: overlap
  * independent jobs so the next job's tasks back-fill the current
  * one's stragglers). These tasks are themselves Spark jobs, so width
  * buys overlap, not core oversubscription; 8 covers every current
  * fan-out (7 gold transforms, 4-way fixture writes) with headroom.
  */
object Par {
  private lazy val pool = new java.util.concurrent.ForkJoinPool(8)

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.collection.parallel.CollectionConverters._
    val p = xs.par
    p.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
    p.map(f).seq
  }

  def foreach[A](xs: Seq[A])(f: A => Unit): Unit = { map(xs)(f); () }
}

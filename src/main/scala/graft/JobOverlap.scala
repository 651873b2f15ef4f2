package graft

/** Overlap of independent Spark-submitting tasks: jobs submitted from
  * one thread run one after another, so tasks whose jobs never
  * interact (a sink's two legs, a step's eager pins, a model's
  * per-subspace fits) each get a thread and Spark's scheduler
  * interleaves their jobs.
  *
  * Every thread is created HERE, on the calling thread, per call: a
  * new thread inherits the creating thread's SparkContext local
  * properties (job group, job description, streaming run tags), so
  * each task's jobs carry the caller's labels. A thread kept across
  * calls would keep stamping later callers' jobs with the first
  * caller's job group, and cancelling that group would kill unrelated
  * work. */
object JobOverlap {

  /** Run each task on a daemon thread of its own (`name-i`), wait for
    * ALL of them, then return their results in task order — or, if any
    * failed, rethrow the first failure in task order with every later
    * one attached as suppressed. No task outlives the call. */
  def all[A](name: String)(tasks: (() => A)*): Seq[A] = {
    val results = Array.fill[scala.util.Try[A]](tasks.size)(
      scala.util.Failure(new IllegalStateException(s"$name: task died")))
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() => results(i) = scala.util.Try(task()),
        s"$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    val failures = results.toSeq.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    results.toSeq.map(_.get)
  }
}

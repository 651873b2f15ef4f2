package graft

import scala.jdk.CollectionConverters._

/** [[JobOverlap]]: tasks overlap on threads created by the caller, and
  * a failure surfaces only once no task is left running. */
class JobOverlapSpec extends SparkSpec {

  private def alive(prefix: String): Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(prefix))
      .map(_.getName).toSet

  test("a task's failure is rethrown only after the still-running task has ended") {
    val failed = new java.util.concurrent.CountDownLatch(1)
    val slowEnded = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      JobOverlap.all("overlap-spec")(
        () => try throw boom finally failed.countDown(),
        () => {
          // still running when the first task has thrown
          failed.await()
          Thread.sleep(300)
          slowEnded.set(true)
        })
    }
    thrown should be theSameInstanceAs boom
    slowEnded.get shouldBe true
    alive("overlap-spec-") shouldBe empty
  }

  test("tasks inherit the caller's Spark job description; results come back in task order") {
    val sc = spark.sparkContext
    sc.setJobDescription("overlap-spec-desc")
    try {
      JobOverlap.all("overlap-props")(
        () => sc.getLocalProperty("spark.job.description"),
        () => Thread.currentThread.getName) shouldBe
        Seq("overlap-spec-desc", "overlap-props-1")
    } finally sc.setJobDescription(null)
  }
}

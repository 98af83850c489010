package graft.hockey

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.SparkSpec

/** `Experiment.run` fits its models concurrently: the thread helper's
  * contract, and the console order the concurrent phase keeps. */
class ExperimentSpec extends SparkSpec {

  test("concurrently returns results in task order, whatever order the tasks finish in") {
    val laterDone = new CountDownLatch(2)
    val threads = new ConcurrentLinkedQueue[Thread]
    def task(i: Int)(body: => Unit): () => Int = () => {
      threads.add(Thread.currentThread())
      body
      i
    }
    val out = Experiment.concurrently(Seq(
      // the first task finishes last: it waits for the other two
      task(0)(assert(laterDone.await(30, TimeUnit.SECONDS))),
      task(1)(laterDone.countDown()),
      task(2)(laterDone.countDown())))
    assert(out == Seq(0, 1, 2))
    assert(threads.size == 3)
    threads.forEach(t => assert(!t.isAlive, s"${t.getName} outlived the call"))
  }

  test("concurrently rethrows the first failing task's own exception, after every task ends") {
    val secondFailed = new CountDownLatch(1)
    val threads = new ConcurrentLinkedQueue[Thread]
    val first = new IllegalStateException("first")
    val e = intercept[IllegalStateException] {
      Experiment.concurrently(Seq[() => Int](
        () => { threads.add(Thread.currentThread()); secondFailed.await(30, TimeUnit.SECONDS); throw first },
        () => { threads.add(Thread.currentThread()); secondFailed.countDown(); sys.error("second") },
        () => { threads.add(Thread.currentThread()); Thread.sleep(200); 3 }))
    }
    assert(e eq first)
    assert(threads.size == 3)
    threads.forEach(t => assert(!t.isAlive, s"${t.getName} outlived the call"))
  }

  test("models print in --models order, not in the order their fits finish") {
    val out = new java.io.ByteArrayOutputStream()
    val report = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Experiment.run(spark, Experiment.Opts("fixtures/hockey/events.csv",
        "fixtures/hockey/results.csv", models = Seq("mlp", "lr"), fast = true))
    }
    val text = out.toString("UTF-8")
    val blocks = Seq("Training Multilayer Perceptron...", "=== Multilayer Perceptron",
      "Training Logistic Regression...", "=== Logistic Regression", "Baselines:")
      .map(text.indexOf(_))
    assert(blocks.forall(_ >= 0), text)
    assert(blocks == blocks.sorted, text)
    assert(text.indexOf("Train = ") < blocks.head, text)
    assert(report.metrics.keySet == Set("Multilayer Perceptron", "Logistic Regression"))
  }
}

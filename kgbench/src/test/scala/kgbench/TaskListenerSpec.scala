package kgbench

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TaskListenerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]").appName("kgbench-test")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("per-group task time sums to the session total") {
    val sc = spark.sparkContext
    val l = TaskListener.register(sc)
    def work(n: Int) = sc.parallelize(1 to n, 3).map(i => (i % 7, i)).reduceByKey(_ + _).count()
    sc.setJobGroup("a", "a"); work(20000)
    sc.setJobGroup("b", "b"); work(50000); work(1000)
    sc.clearJobGroup(); work(3000)
    val t = new Tracer(sc)
    t.span("metrics.eval", op = 0) { _ => (work(100), 0L) }
    ListenerBusDrain(sc)
    val groups = l.groupIds.toSeq.map(l.group)
    val sum = groups.foldLeft(TaskTotals())(_ + _)
    assert(l.groupIds == Set("a", "b", "", Tracer.group(0)))
    assert(math.abs(sum.taskS - l.total.taskS) < 1e-9)
    assert(sum.tasks == l.total.tasks && sum.jobs == l.total.jobs)
    assert(l.group("b").jobs == 2 && l.group(Tracer.group(0)).jobs == 1)
    assert(l.total.tasks == 5 * 6) // five jobs of a 3-task map stage and a 3-task reduce stage
    assert(sc.getLocalProperty(TaskListener.GroupKey) == null) // the span restored "no group"
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide no-lingering-cache sweep (r11, VERDICT r10 next-list #4,
  * generalizing the r10 Traceability leak spec): a whole-suite
  * single-session run — the bench, ScaleStress, a production pipeline
  * driving many queries through one SparkSession — must not accumulate
  * operator-created cached RDDs. The house rule the Traceability spec
  * established, now enforced over EVERY gate:
  *
  *   after a gate's returned frame is executed and released, the
  *   persistent-RDD set returns to its pre-gate baseline, EXCEPT
  *   localCheckpoint blocks — those are held by the caller's plan and the
  *   ContextCleaner reclaims them when the frame becomes unreachable,
  *   whereas a forgotten `cache()` is pinned by the CacheManager for the
  *   session's LIFETIME no matter who still references the frame.
  *
  * First adjudicated instance: q169's signature histogram cache
  * (ADVICE r10 #1), converted to `localCheckpoint(false)` this round —
  * this sweep is the regression gate that keeps the whole registry at
  * that standard. The distinction the filter draws is exactly the one
  * [[org.apache.spark.rdd.GraftRddInspect]] exposes. */
class CacheHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("no gate in the registry leaves a cached (non-localCheckpoint) " +
      "RDD behind after its frame is executed") {
    val sc = spark.sparkContext
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- Queries.all.toSeq.sortBy(_._1)) {
      // pre-gate baseline AFTER the previous gate's cleanup nudge, so a
      // leak is attributed to the gate that created it, never inherited
      val baseline = sc.getPersistentRDDs.keySet.toSet
      fn(spark, sf).count(): Unit
      val lingering = sc.getPersistentRDDs
        .filter { case (id, _) => !baseline(id) }
        .values
        .filterNot(org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint)
        .toSeq
      if (lingering.nonEmpty)
        offenders += s"$name: ${lingering.map(_.toString).mkString("; ")}"
      // release this gate's legitimate checkpoint blocks before the next
      // baseline: drop the only reference (the frame is already out of
      // scope), clear any cached QUERIES (distinct from the RDD-level
      // leaks this sweep hunts — those were sampled above, before the
      // clear could mask them), and nudge the ContextCleaner
      spark.catalog.clearCache()
      System.gc()
    }
    assert(offenders.isEmpty,
      s"gates left non-localCheckpoint persistent RDDs behind:\n" +
        offenders.mkString("\n"))
  }

  test("the sweep DETECTS a leaked cache (positive control)") {
    // a filter typo or a Spark storage-level rename must not silently
    // green every future sweep: a deliberately leaked cache() is caught,
    // and a localCheckpoint of the same frame is exempt
    val s = spark; import s.implicits._
    val sc = s.sparkContext
    val base = sc.getPersistentRDDs.keySet.toSet
    val leaked = Seq((1L, "a"), (2L, "b")).toDF("id", "v").cache()
    leaked.count(): Unit
    def newNonCheckpoint() = sc.getPersistentRDDs
      .filter { case (id, _) => !base(id) }
      .values.filterNot(org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint)
    assert(newNonCheckpoint().nonEmpty, "the detector missed a real cache()")
    leaked.unpersist(true)
    val ckpt = Seq((3L, "c")).toDF("id", "v").localCheckpoint(false)
    ckpt.count(): Unit
    assert(newNonCheckpoint().isEmpty,
      "localCheckpoint blocks must be exempt (caller-held, GC-reclaimable)")
  }
}

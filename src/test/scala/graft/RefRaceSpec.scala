package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import graft.sources.Snapshots

/** Tags and branches share the VERSION AS OF namespace: a tag and a
  * branch of one name created at the same moment must never both land,
  * also when the name carries debris of a crashed drop. */
class RefRaceSpec extends SparkSpec {

  test("a tag and a branch racing on one stale claim: exactly one wins") {
    val root = Qx.tmpOut("refrace", sf())
    Snapshots.commit(root)(out =>
      spark.range(3).selectExpr("id AS k").write.mode("append").parquet(out))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 25).foreach { i =>
      val name = s"ghost$i"
      // a drop that crashed after deleting the ref leaves the branch's
      // manifest dir and a claim file of the older claim-file layout
      Snapshots.createBranch(root, name)
      Files.delete(Paths.get(root, "_commits", s"$name.branch"))
      Files.write(Paths.get(root, "_commits", s"$name.refkind"), "branch".getBytes)
      val start = new CyclicBarrier(2)
      val tag = Future { start.await(); Try(Snapshots.tag(root, name, 1L)) }
      val branch = Future { start.await(); Try(Snapshots.createBranch(root, name)) }
      val outcomes = Seq(Await.result(tag, 60.seconds), Await.result(branch, 60.seconds))
      assert(outcomes.count(_.isSuccess) == 1, s"$name: $outcomes")
      outcomes.collect { case Failure(e) => e }.foreach { e =>
        assert(e.isInstanceOf[IllegalStateException], s"$name: $e")
        assert(e.getMessage.contains("share the VERSION AS OF namespace"), e.getMessage)
      }
      val tagged = Snapshots.tagVersion(root, name).isDefined
      val branched = Snapshots.branchFork(root, name).isDefined
      assert(tagged != branched, s"$name: tag=$tagged branch=$branched")
      assert(tagged == outcomes.head.isSuccess)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("dropBranch refuses a malformed name and a no-op drop leaves no file") {
    val root = Qx.tmpOut("refdrop", sf())
    Snapshots.commit(root)(out =>
      spark.range(3).selectExpr("id AS k").write.mode("append").parquet(out))
    val commits = Paths.get(root, "_commits")
    def listing = {
      val ls = Files.list(commits)
      try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
    }
    val before = listing
    // the name reaches the path from SQL (CALL snap.system.drop_branch)
    val e = intercept[IllegalArgumentException](Snapshots.dropBranch(root, "../escape"))
    assert(e.getMessage.contains("ref name must be"), e.getMessage)
    assert(!Files.exists(Paths.get(root, "escape.reflock")))
    Snapshots.dropBranch(root, "nosuch")
    assert(listing == before, s"a no-op drop changed $commits: $before -> $listing")
  }
}

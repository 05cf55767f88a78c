package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerBusProbe

import graft.queries.Artifacts

/** The session-owned artifact store. Every test works on its own
  * `newSession()` and closes it the way the stop listener does — the
  * suite shares one SparkContext, which must stay up. */
class ArtifactsSpec extends SparkTestBase {

  private def withSession(body: org.apache.spark.sql.SparkSession => Unit)
      : Unit = {
    val s = spark.newSession()
    try body(s) finally Artifacts.close(s)
  }

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  test("same key builds once; another name or dir builds again") {
    withSession { s =>
      var builds = 0
      def get(dir: String, name: String): Int =
        Artifacts.once(s, dir, name) { builds += 1; builds }
      assert(get("sf", "a") == 1)
      assert(get("sf", "a") == 1)
      assert(builds == 1)
      assert(get("sf", "b") == 2)
      assert(get("other", "a") == 3)
      assert(get("sf", "b") == 2 && builds == 3)
    }
  }

  test("a build may use another key; a failed build is retried") {
    withSession { s =>
      val outer = Artifacts.once(s, "sf", "outer") {
        Artifacts.once(s, "sf", "inner")("in") + "+out"
      }
      assert(outer == "in+out")
      var tries = 0
      def flaky(): String = Artifacts.once(s, "sf", "flaky") {
        tries += 1
        if (tries == 1) throw new IllegalStateException("first try")
        "ok"
      }
      assertThrows[IllegalStateException](flaky())
      assert(flaky() == "ok" && flaky() == "ok" && tries == 2)
    }
  }

  test("temp dirs and once-built dirs exist until close, then are gone") {
    val s = spark.newSession()
    val scratch = Artifacts.tempDir(s, "graft_spec_tmp")
    val built = Artifacts.once(s, "sf", "store") {
      val p = Artifacts.tempDir(s, "graft_spec_store")
      Files.writeString(Paths.get(p, "part-0"), "x")
      Files.createDirectories(Paths.get(p, "nested", "deeper"))
      p
    }
    assert(exists(scratch) && exists(s"$built/part-0"))
    Artifacts.close(s)
    assert(!exists(scratch))
    assert(!exists(built))
  }

  test("after close the same key rebuilds into a new dir") {
    withSession { s =>
      def store(): String = Artifacts.once(s, "sf", "store")(
        Artifacts.tempDir(s, "graft_spec_store"))
      val first = store()
      assert(store() == first)
      Artifacts.close(s)
      val second = store()
      assert(second != first)
      assert(exists(second) && !exists(first))
    }
  }

  test("sessions own their artifacts separately") {
    withSession { a =>
      withSession { b =>
        val pa = Artifacts.once(a, "sf", "store")(
          Artifacts.tempDir(a, "graft_spec_a"))
        val pb = Artifacts.once(b, "sf", "store")(
          Artifacts.tempDir(b, "graft_spec_b"))
        assert(pa != pb)
        Artifacts.close(a)
        assert(!exists(pa) && exists(pb))
      }
    }
  }

  test("installing the stop listener twice leaves one listener") {
    val sc = spark.sparkContext
    Artifacts.install(sc)
    Artifacts.install(sc)
    assert(ListenerBusProbe.count[Artifacts.StopListener](sc) == 1)
  }
}

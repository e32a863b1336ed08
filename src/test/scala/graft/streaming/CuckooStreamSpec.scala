package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Cuckoo-filter gates: the deletable-membership contract — no false
  * negatives on live keys, delete-then-readmit in BOTH directions
  * (deleted reads absent; re-added reads present again), deletes of
  * never-inserted keys are checked no-ops — plus the pure-filter load
  * behavior under the 0.95 capacity bound.
  */
class CuckooStreamSpec extends SparkSpec {
  import spark.implicits._

  private def op(id: Long, user: Long, kind: String): Event =
    Event(id, user, kind, new Timestamp(1700000000000L + id), 0.0)

  test("streamed add/del/re-add lifecycle: no false negatives on live " +
      "keys, deleted keys read absent, re-adds re-admit") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val name = s"t_cuckoo_${System.nanoTime()}"
    val q = CuckooStream.cuckooMembership(stream.toDS())
      .toDF("event_id", "user_id", "op", "member", "applied")
      .writeStream.format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("cuckoo-ckpt").toString)
      .start()
    // batch 1: add users 1..50
    stream.addData((1L to 50L).map(u => op(u, u, "add")))
    q.processAllAvailable()
    // batch 2: delete evens, check odds, delete a never-inserted key
    stream.addData((1L to 50L).map(u =>
      op(100 + u, u, if (u % 2 == 0) "del" else "chk")) :+
      op(199, 9999, "del"))
    q.processAllAvailable()
    // batch 3: re-add 2 and 4, check 6..10 evens stay absent
    stream.addData(Seq(op(201, 2, "add"), op(202, 4, "add"),
      op(203, 6, "chk"), op(204, 8, "chk"), op(205, 10, "chk")))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val rows = spark.table(name)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2),
        r.getBoolean(3), r.getBoolean(4)))).toMap
    // batch 1: every add applied and immediately member
    (1L to 50L).foreach { u =>
      assert(rows(u) == ((u, "add", true, true)), s"add $u -> ${rows(u)}")
    }
    // batch 2: odds (live) MUST be present — the no-false-negative law
    (1L to 50L by 2).foreach { u =>
      assert(rows(100 + u)._3, s"live key $u read absent")
    }
    // evens: delete applied, and membership after the delete is false
    // (50 distinct keys — fingerprint collisions would be deterministic
    // and none occur on this fixture)
    (2L to 50L by 2).foreach { u =>
      assert(rows(100 + u) == ((u, "del", false, true)),
        s"del $u -> ${rows(100 + u)}")
    }
    // deleting a never-inserted key is a checked no-op
    assert(rows(199) == ((9999L, "del", false, false)))
    // batch 3: re-adds re-admit; untouched deletes stay absent
    assert(rows(201) == ((2L, "add", true, true)))
    assert(rows(202) == ((4L, "add", true, true)))
    Seq(203L -> 6L, 204L -> 8L, 205L -> 10L).foreach { case (id, u) =>
      assert(!rows(id)._3, s"deleted key $u re-appeared without a re-add")
    }
    }
  }

  test("pure filter: 3000 inserts under the capacity bound all succeed " +
      "and read present; 1500 deletes leave no false negatives and at " +
      "most a collision-floor of stale positives") {
    val a = CuckooStream.Filter.empty
    val keys = (1L to 3000L).map(_ * 2654435761L) // spread the keyspace
    keys.foreach { k =>
      assert(CuckooStream.Filter.insert(a, k), s"insert $k failed")
    }
    keys.foreach { k =>
      assert(CuckooStream.Filter.contains(a, k), s"false negative $k")
    }
    val (dead, live) = keys.splitAt(1500)
    dead.foreach { k =>
      assert(CuckooStream.Filter.delete(a, k), s"delete $k missed")
    }
    live.foreach { k =>
      assert(CuckooStream.Filter.contains(a, k),
        s"live key $k lost by a delete — broken no-false-negative law")
    }
    val stale = dead.count(CuckooStream.Filter.contains(a, _))
    assert(stale <= 5,
      s"$stale of 1500 deleted keys still read present — above the " +
        "16-bit fingerprint collision floor")
    // state image is fixed-size by construction
    assert(a.length ==
      CuckooStream.CuckooBuckets * CuckooStream.CuckooSlots * 2)
  }
}

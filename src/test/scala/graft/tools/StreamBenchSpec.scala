package graft.tools

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.streaming.SparkSpec

/** StreamBench's rung end to end at a tiny rate: one fresh market loop,
  * the generator thread, the progress polling and the drain rule, down
  * to the JSON line a rung prints; then the rps span and the quiet rule
  * on hand-made batch timings. */
class StreamBenchSpec extends SparkSpec {

  private def fields(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("a 200 rec/s rung drains and prints every field of its JSON line") {
    val line = StreamBench.runRung(spark, rate = 200, windowSec = 4)
    val doc = new ObjectMapper().readTree(line)
    assert(fields(doc) === Set("rate", "window_sec", "generated", "drained",
      "j1_pricing", "t1_ledger", "t2_roi"), line)
    assert(fields(doc.get("generated")) === Set("orders", "prices", "invests", "gen_wall_ms"))
    val hop = Set("rows", "batches", "active_batches", "rps", "trigger_p50_ms",
      "trigger_p95_ms", "trigger_max_ms", "state_rows", "commit_task_sum_ms_mean",
      "state_mem_bytes")
    Seq("j1_pricing", "t1_ledger", "t2_roi").foreach(q => assert(fields(doc.get(q)) === hop, q))
    assert(doc.get("drained").asBoolean, line)
    val gen = doc.get("generated")
    // 100 orders and 10 prices a 500 ms tick
    assert(gen.get("orders").asLong > 0 && gen.get("orders").asLong % 100 == 0, line)
    assert(gen.get("prices").asLong * 10 === gen.get("orders").asLong, line)
    assert(doc.get("j1_pricing").get("rows").asLong ===
      gen.get("orders").asLong + gen.get("prices").asLong, line)
  }

  test("rps spans the first active batch's start to the last one's end") {
    // batches as (start ms, trigger ms)
    val active = Seq((0L, 100L), (1000L, 200L))
    assert(StreamBench.spanMs(active) === 1200L)
    assert(StreamBench.rps(600, active) === 500.0)
    assert(StreamBench.rps(600, Nil) === 0.0)
  }

  test("a query is quiet once 5 s have passed since its last active batch ended") {
    val last = Some((1000L, 200L))
    assert(StreamBench.quiet(last, nowMs = 6201))
    assert(!StreamBench.quiet(last, nowMs = 6199))
    assert(!StreamBench.quiet(None, nowMs = Long.MaxValue))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the reported tail is the highest percentile with ten samples beyond it") {
    assert(Stats.supportedPercentile(15).isEmpty)
    assert(Stats.supportedPercentile(20).contains(0.5))
    assert(Stats.supportedPercentile(39).contains(0.5))
    assert(Stats.supportedPercentile(40).contains(0.75))
    assert(Stats.supportedPercentile(100).contains(0.9))
    assert(Stats.supportedPercentile(199).contains(0.9))
    assert(Stats.supportedPercentile(200).contains(0.95))
    assert(Stats.supportedPercentile(1000).contains(0.99))
    assert(Stats.supportedPercentile(10000).contains(0.999))
    assert(Stats.label(0.99) == "p99" && Stats.label(0.999) == "p99.9")
  }

  test("each datagram is attributed to the batch whose offsets hold it") {
    val batches = IndexedSeq(
      Ingest.Committed(0L, 0L, 32L, 1000.0),
      Ingest.Committed(1L, 32L, 50L, 2500.0),
      Ingest.Committed(3L, 60L, 90L, 4000.0))
    assert(Ingest.batchOf(batches, 0L).map(_.batchId).contains(0L))
    assert(Ingest.batchOf(batches, 31L).map(_.batchId).contains(0L))
    assert(Ingest.batchOf(batches, 32L).map(_.batchId).contains(1L))
    assert(Ingest.batchOf(batches, 49L).map(_.batchId).contains(1L))
    // offsets no committed batch covered: never attributed to a neighbour
    assert(Ingest.batchOf(batches, 55L).isEmpty)
    assert(Ingest.batchOf(batches, 89L).map(_.batchId).contains(3L))
    assert(Ingest.batchOf(batches, 90L).isEmpty)
  }

  test("the same seed gives the same request mix, another seed another") {
    val a = Console.mix(7L, 500)
    assert(a == Console.mix(7L, 500))
    assert(a != Console.mix(8L, 500))
    // the composition is the rotation's whatever the seed
    val kinds = a.grouped(Console.Rotation.length).next().map(_.kind)
    assert(kinds.count(_ == "line") >= 2 && kinds.count(_ == "filter") >= 2)
    val repeats = a.zipWithIndex.count { case (r, i) => a.take(i).contains(r) }
    assert(repeats >= a.length * 3 / 10)
  }

  test("the same seed gives the same corpus slices and re-crawls") {
    val a = Release.batches(7L, 5)
    assert(a == Release.batches(7L, 5))
    assert(a != Release.batches(8L, 5))
    assert(a.flatten.map(_.doc_id) == (0L until 5L * Release.BatchDocs))
    // re-crawled documents repeat earlier text under fresh ids
    val texts = a.flatten.map(_.text)
    assert(texts.distinct.length < texts.length)
    // near copies are an earlier text plus " dup"; new texts 10 to 100 words
    val copies = texts.filter(_.endsWith(" dup"))
    assert(copies.length >= 4 * (Release.NearDupShare * Release.BatchDocs).round)
    assert(copies.forall(c => texts.contains(c.stripSuffix(" dup"))))
    assert(texts.map(_.split(" ").length).forall(n => n >= 10 && n <= 101))
  }

  test("the same seed gives the same replay order and sequence numbers") {
    assert(Replay.cycle(3L, 1).map(_.id) == Replay.cycle(3L, 1).map(_.id))
    assert(Replay.cycle(3L, 1).map(_.id).sorted == Replay.families.map(_.id))
    assert(Replay.firstSequence(3L, 1, 2) == Replay.firstSequence(3L, 1, 2))
  }

  test("self time subtracts the part of a span its children cover") {
    val spans = Seq(
      Span(1L, 0L, "call", "dedup", 0.0, 100.0),
      Span(2L, 1L, "job", "spark", 10.0, 40.0),
      Span(3L, 1L, "job", "spark", 30.0, 60.0),
      Span(4L, 1L, "job", "spark", 90.0, 120.0))
    val self = Tracer.selfTimes(spans)
    assert(self("dedup") == 40.0)
    assert(self("spark") == 30.0 + 30.0 + 30.0)
    assert(Tracer.coverage(spans, spans.take(1)) == 0.6)
  }

  test("BENCHMARK.json names exactly the metrics the runs print") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(src.mkString)
      finally src.close()
    def names(k: String) = (0 until json.get(k).size).map(i =>
      (json.get(k).get(i).get("name").asText, json.get(k).get(i).get("unit").asText))
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
  }
}

package graft.perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.{CacheScope, Clusters, MinHashLSH}
import graft.io.Sinks
import graft.ops.Reshape
import graft.pipeline.{ConsumeJob, ConsumeParams, ConsumePipeline, IterationSpec}

/** One workload's job: the untraced call the end-to-end metrics time, and
  * the traced composition of the same public calls the layers come from.
  */
sealed trait Job {
  def run(spark: SparkSession, in: String, out: String): Unit
  def traced(spark: SparkSession, in: String, out: String, tr: Tracer): Unit
}

/** `ConsumeJob.run` with the workload's window and iteration matrix. */
final case class ConsumeWorkload(params: ConsumeParams, dateSegment: Option[String])
    extends Job {

  def run(spark: SparkSession, in: String, out: String): Unit =
    ConsumeJob.run(spark, in, out, params, None, dateSegment)

  /** `ConsumeJob.run` (no config) call for call, in its order. Each cache
    * point the job has (events, repaired, side, base1All, per-iteration
    * b2) is forced with a count inside its layer's span. Stage 3 and
    * `modify` are not cached by the job: each is timed with one extra
    * materialization of a probe copy, which is dropped again before the
    * sinks run, so the sinks recompute stage 3 exactly as the job does.
    */
  def traced(spark: SparkSession, in: String, out: String, tr: Tracer): Unit = {
    import ConsumePipeline._
    val (events, customer, orders, nation) = tr.span("sources") {
      val ev = Tables.events(spark, in).cache()
      val tables = (ev, Tables.customer(spark, in), Tables.orders(spark, in),
        Tables.nation(spark, in))
      val obs = Observation("events")
      ev.observe(obs, count(lit(1)).as("rows"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("tombstones")).count()
      tr.count("events.rows", obs.get("rows").asInstanceOf[Long].toDouble)
      tr.count("events.tombstones", obs.get("tombstones").asInstanceOf[Long].toDouble)
      tables
    }

    val repaired = tr.span("repair") {
      val r = repairCdc(events).cache()
      val obs = Observation("repaired")
      r.observe(obs, count(lit(1)).as("rows"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("resurrected")).count()
      tr.count("repair.rows_out", obs.get("rows").asInstanceOf[Long].toDouble)
      tr.count("repair.resurrected", obs.get("resurrected").asInstanceOf[Long].toDouble)
      r
    }

    val side = tr.span("side") {
      val s = SideInputs(orders, events, params.activityFrom, params.activityTo).cache()
      tr.count("side.rows_out", (s.active.count() + s.userStats.count()).toDouble)
      s
    }

    val base1All = tr.span("stage1") {
      val b = baseFirst(alignRepaired(repaired), customer).cache()
      tr.count("stage1.rows_out", b.count().toDouble)
      b
    }

    val perIteration = params.iterations.map { it =>
      val b2 = tr.span("enrich") {
        val b = enrich(base1All.filter(it.filter), side).cache()
        tr.count("enrich.rows_out", b.count().toDouble)
        b
      }
      val b3 = baseFinal(b2, params.monthStart, params.monthEnd)
      val probe = tr.span("final") {
        val p = b3.cache()
        tr.count("final.rows_out", p.count().toDouble)
        p
      }
      tr.span("probe") {
        // the users stage 3's anti join removes (baseFinal's `invalid` set)
        tr.count("final.invalid_users", b2.groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", col("ts"))).as("f_max"),
            max(col("ts")).as("all_max"))
          .filter(col("f_max") < col("all_max")).count().toDouble)
      }
      tr.span("modify") {
        modify(probe, nation).withColumn("iteration", lit(it.name))
          .write.format("noop").mode("overwrite").save()
      }
      tr.span("probe")(probe.unpersist(blocking = true))

      val result = modify(b3, nation, Nil).withColumn("iteration", lit(it.name))
      val dateKey = dateSegment.fold("")(d => s"/partitioncreateddate=$d")
      tr.span("sinks", "json") {
        Sinks.gzipJson(Reshape.nestSchema(result.select("user_id", "event_type",
          "price_src", "partition_month", "n_name", "n_clicks", "n_views")),
          s"$out/json/${it.name}$dateKey")
      }
      tr.span("sinks", "csv") {
        Sinks.gzipCsv(result.drop("props"), s"$out/csv/${it.name}$dateKey")
      }
      (result, b2)
    }

    val union = perIteration.map(_._1).reduce(_ unionByName _)
    tr.span("sinks", "table") {
      Sinks.overwritePartitions(union, s"$out/table", "partition_month")
    }
    perIteration.foreach(_._2.unpersist())
    base1All.unpersist()
    side.unpersist()
    repaired.unpersist()
    events.unpersist()
  }
}

/** Near-duplicate dedup of a corpus: LSH pairs, connected components,
  * survivors written as parquet.
  */
final case class CorpusWorkload(threshold: Double, maxBucket: Int) extends Job {
  // nearDuplicates' defaults, spelled out for the traced per-step calls
  private val numHashes = 72
  private val bands = 6
  private val shingleN = 1
  private val seed = 42L
  private val keep = Seq("doc_id", "lang", "source", "n_chars")

  def run(spark: SparkSession, in: String, out: String): Unit = CacheScope.withScope {
    val docs = Tables.documents(spark, in)
    val pairs = MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"),
      threshold, maxBucket = maxBucket).select("id_a", "id_b")
    Clusters.dropNearDuplicates(docs, col("doc_id"), pairs).select(keep.map(col): _*)
      .write.mode("overwrite").parquet(s"$out/table")
  }

  /** Signatures and candidate pairs are each materialized once on their
    * own (extra work the job does not do); `verify` then materializes
    * `nearDuplicates` itself, which derives its signatures and candidates
    * again, and the components and the write read its cached pairs.
    */
  def traced(spark: SparkSession, in: String, out: String, tr: Tracer): Unit =
    CacheScope.withScope {
      val docs = tr.span("sources")(Tables.documents(spark, in))
      val sigs = tr.span("dedup", "signatures") {
        val s = MinHashLSH.signatures(docs, col("doc_id"), col("text"),
          numHashes, shingleN, seed).cache()
        s.count()
        s
      }
      tr.span("dedup", "candidates") {
        tr.count("dedup.candidate_pairs",
          MinHashLSH.candidatePairs(sigs, bands, numHashes, maxBucket).count().toDouble)
      }
      val pairs = tr.span("dedup", "verify") {
        val p = MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"), threshold,
          numHashes, bands, shingleN, seed, maxBucket).select("id_a", "id_b").cache()
        tr.count("dedup.verified_pairs", p.count().toDouble)
        p
      }
      val survivors = tr.span("dedup", "components")(
        Clusters.dropNearDuplicates(docs, col("doc_id"), pairs))
      tr.span("sinks", "table") {
        survivors.select(keep.map(col): _*).write.mode("overwrite").parquet(s"$out/table")
      }
      pairs.unpersist()
      sigs.unpersist()
    }
}

object Job {
  /** `it1=BUILDING,AUTOMOBILE;it2=MACHINERY,...` → iteration specs. */
  def iterations(spec: String): Seq[IterationSpec] =
    spec.split(";").toSeq.map { entry =>
      val Array(name, segments) = entry.split("=", 2)
      IterationSpec.bySegments(name, segments.split(",").toSeq)
    }

  def apply(opts: Map[String, String]): Job = opts("kind") match {
    case "consume" =>
      ConsumeWorkload(ConsumeParams(
        activityFrom = opts("activity-from"), activityTo = opts("activity-to"),
        monthStart = opts("month-start"), monthEnd = opts("month-end"),
        iterations = iterations(opts("iterations"))),
        opts.get("date-segment").filter(_.nonEmpty))
    case "corpus" =>
      CorpusWorkload(opts("threshold").toDouble, opts("max-bucket").toInt)
    case k => throw new IllegalArgumentException(s"unknown job kind $k")
  }
}

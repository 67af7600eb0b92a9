package perfbench

import java.util.Locale
import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row
import graft.SparkEntry

/** The operator-sentinel workload: sentinel keys of the library's query
  * inventory, run through `SparkEntry.queries` the way a library caller runs
  * them (a `noop` sink, the bench-only memo unset) on tables the benchmark
  * writes itself. One operation is one pass over the keys, in alphabetical
  * order. */
object Sentinels {

  /** Four of the seven sentinel keys; e_bpe_train, e_datasheet and
    * e_pca_power do not fit a run's time budget (rationale.json). */
  val Keys = Seq("e_jaccard_prefix", "e_kmeans_train", "e_knn_graph", "q_daily_agg")

  /** The tables come from this fixed seed, not from `--seed`, so that each
    * key's output can be pinned. */
  val TableSeed = 42L
  val Docs = 300
  val Vecs = 300
  val Lines = 3000

  /** Row count and order-independent digest ([[digest]]) of each key's
    * output on the tables, as the library computed them when this benchmark
    * was written (its oracle check then passed on every key). */
  val Pinned: Map[String, (Long, Long)] = Map(
    "e_jaccard_prefix" -> (345L, 44721440743911310L),
    "e_kmeans_train" -> (768L, 3310767495570330730L),
    "e_knn_graph" -> (900L, -1983979042213447226L),
    "q_daily_agg" -> (2452L, 7188377603504540359L))

  /** A value as text, with floating-point numbers to 7 significant digits
    * so that the last bits of a sum do not change the digest. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else String.format(Locale.ROOT, "%.6e", Double.box(d))
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  /** Row count and the wrapping sum of a 64-bit hash of each row. */
  def digest(rows: Array[Row]): (Long, Long) = {
    val h = rows.iterator.map { r =>
      val s = canon(r)
      Gen.mix((MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xFFFFFFFFL))
    }.sum
    (rows.length.toLong, h)
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val dir = ctx.dir("tables")
    val t0 = System.nanoTime()
    Gen.writeSentinelTables(ctx.spark, dir, TableSeed, Docs, Vecs, Lines)
    val genS = (System.nanoTime() - t0) / 1e9

    // untimed warm-up pass: each key's output is collected and checked
    // against its pinned row count and digest
    ctx.op("warm-up pass with output checks") {
      Keys.foreach { k =>
        val got = digest(SparkEntry.queries(k)(ctx.spark, dir).collect())
        ctx.spark.catalog.clearCache()
        Pinned.get(k) match {
          case Some(want) => ctx.checks.same(s"$k rows and digest", want, got)
          case None => ctx.checks.check(s"$k rows and digest", ok = false, s"none pinned; got $got")
        }
      }
      Pinned.headOption.foreach { case (k, (n, h)) =>
        val probe = new Checks
        probe.same(k, (n + 1, h), Pinned(k))
        ctx.checks.check("self-test: a wrong pinned row count is caught", probe.failed == 1)
      }
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    ctx.setupDone(sessionS + setupS)
    ctx.detailMetric("setup.session_s", "s", sessionS, 1)
    ctx.detailMetric("setup.tables_s", "s", genS, 1)
    ctx.detailMetric("setup.warmup_s", "s", setupS - genS, 1)

    var pass = 0
    def unit(timed: Boolean, into: Samples): Boolean = ctx.op(s"pass $pass") {
      pass += 1
      val spans = mutable.ArrayBuffer.empty[(String, Span)]
      val (_, cyc) = ctx.tracer.span("cycle") {
        Keys.foreach { k =>
          val (_, s) = ctx.tracer.span(s"query.$k") {
            SparkEntry.queries(k)(ctx.spark, dir).write.format("noop").mode("overwrite").save()
            // the caching contract of the keys: callers clear after materializing
            ctx.spark.catalog.clearCache()
          }
          spans += k -> s
        }
      }
      if (timed) {
        into.add("cycle", "s", cyc.seconds)
        into.add("cycle_cpu", "s", cyc.cpuSeconds)
        spans.foreach { case (k, s) => into.add(s"key.$k", "s", s.seconds) }
        ctx.settle(into)
        if (ctx.trace && (into eq ctx.samples)) {
          spans.foreach { case (k, s) => ctx.phase(s"query.$k", s) }
          ctx.engine(cyc)
        }
      }
    }

    while (ctx.samples.sum("cycle") < ctx.seconds && unit(timed = true, ctx.samples)) ()
    ctx.publishE2e()
    val s = ctx.samples
    if (s.n("cycle") > 0) {
      val med = Keys.map(k => s.p50(s"key.$k"))
      ctx.setE2e("sentinel_total_s", "s", med.sum, s.n("cycle"))
      ctx.setE2e("sentinel_geomean_s", "s", math.exp(med.map(math.log).sum / med.size), s.n("cycle"))
    }

    if (ctx.trace) {
      ctx.publishLayers()
      ctx.singleCore(unit)
    }
  }
}

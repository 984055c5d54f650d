package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import TextShared.{round, toks}

/** Sketch operators over `documents` (t40-t43): Count-Min heavy
  * hitters, HLL distinct and union/intersection assembly, sampled
  * quantiles. Split out of the former `TextQueries` monolith unchanged.
  */
object TextSketchQueries {

  /** Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
    * bounded-memory frequency estimator a 100 TB token stream needs: d×w
    * counters TOTAL (here 4×64) regardless of vocabulary size, each cell a
    * sum — so the sketch builds in one pass with map-side partial
    * aggregation to ≤d·w partials per partition and merges across
    * executors/days by cell-wise addition. estimate(t) = min over rows of
    * cell(k, h_k(t)) ≥ true count, always an overestimate. The query
    * reports the true top-10 tokens with exact count, CM estimate and the
    * overestimate (collision mass). Cells are derived from the exact vocab
    * counts (mathematically identical to hashing every occurrence, fewer
    * rows); the hash is a cross-engine md5-prefix integer so the DuckDB
    * oracle rebuilds the ENTIRE sketch independently — no staging.
    */
  val t40 = Q(
    "t40_countmin_heavy_hitters",
    (s, dir) => {
      val depth = 4
      val width = 64
      val md5int = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      // The exact vocab aggregate (the one full corpus explode+shuffle)
      // feeds the bucket expansion twice — est's join left side AND cells.
      // Both read (tok, n), so the two subtrees are identical and exchange
      // reuse scans and shuffles the corpus once; no persist, which a
      // lazily returned query could never release.
      val vocab = Tables.documents(s, dir)
        .select(explode(toks(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val buck = vocab
        .select(col("tok"), col("n"),
          explode(array((0 until depth).map(lit): _*)).as("k"))
        .withColumn("bucket",
          pmod(md5int(concat_ws(":", col("k"), col("tok"))), lit(width)))
      val cells = buck.groupBy("k", "bucket").agg(sum("n").as("cell"))
      // Every vocab token gets an estimate, so est carries the exact count
      // too and the top-10 ranks straight off it.
      val est = buck.join(cells, Seq("k", "bucket"))
        .groupBy("tok", "n").agg(min("cell").as("cm_est"))
      // True top-10 via orderBy+limit (TakeOrderedAndProject: per-partition
      // top-10, merge of ≤10-row heaps), THEN row_number() over the same
      // (n desc, tok) total order — tok is unique after the groupBy. The
      // unpartitioned window sees only the 10-row limit output, never the
      // unbounded vocabulary.
      val byCount = Seq(col("n").desc, col("tok"))
      est.orderBy(byCount: _*).limit(10)
        .select(col("tok"), col("n").as("exact_n"), col("cm_est"),
          (col("cm_est") - col("n")).as("overestimate"),
          row_number().over(Window.orderBy(byCount: _*)).as("rn"))
        .orderBy("rn")
    },
    Some("""with tok as (
      select unnest(string_split(text, ' ')) as tok from documents
    ), vocab as (
      select tok, count(*) as n from tok where tok <> '' group by tok
    ), buck as (
      select v.tok, v.n, k.k,
        (('0x' || substr(md5(k.k || ':' || v.tok), 1, 15))::bigint % 64)
          as bucket
      from vocab v, (select unnest([0, 1, 2, 3]) as k) k
    ), cells as (
      select k, bucket, sum(n) as cell from buck group by k, bucket
    ), est as (
      select b.tok, min(c.cell) as cm_est
      from buck b join cells c on c.k = b.k and c.bucket = b.bucket
      group by b.tok
    ), ranked as (
      select tok, n, row_number() over (order by n desc, tok) as rn
      from vocab
    )
    select r.tok, r.n as exact_n, e.cm_est::bigint as cm_est,
      (e.cm_est - r.n)::bigint as overestimate, r.rn
    from ranked r join est e on e.tok = r.tok
    where r.rn <= 10
    order by r.rn"""),
    "corpus sketching: Count-Min heavy hitters (cross-engine md5 hash, overestimate audit)")

  /** HyperLogLog approximate distinct (Flajolet et al. 2007), the sketch a
    * 100 TB pipeline uses wherever `count(distinct)` would shuffle the full
    * key set: per source, m=64 registers over a cross-engine md5-prefix
    * hash, reported against the exact distinct with relative error.
    *
    * Everything up to the final division is INTEGER-exact so the DuckDB
    * oracle rebuilds the whole sketch bit-for-bit: bucket = low 6 hash
    * bits; rho = 1-indexed position of the leftmost 1 in the remaining
    * 54-bit window, computed as 55 − bit_length(w) (binary-string length,
    * no float log2 — exact at power-of-two boundaries); the harmonic-mean
    * denominator Σ 2^(−M_j) is kept scaled by 2^55 as a BIGINT (each term
    * 2^(55−M_j) ≤ 2^55, 64 terms ≤ 2^61 — no FP addition-order hazard),
    * with the 64−n_occupied empty registers contributing 2^55 each. The
    * single double division at the end has identical operand order in both
    * engines. α₆₄ = 0.709 (the paper's constant for m = 64).
    *
    * Scale shape: one distinct on (source, token), then one (source,
    * bucket)-keyed max and one per-source rollup — registers are 64 rows
    * per source regardless of corpus size, which is the entire point.
    */
  val t41 = Q(
    "t41_hll_distinct",
    (s, dir) => {
      val md5int = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val vocab = Tables.documents(s, dir)
        .select(col("source"), explode(toks(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
      val rhos = vocab
        .select(col("source"), md5int(col("tok")).as("h"))
        .select(col("source"),
          col("h").bitwiseAND(lit(63L)).as("bucket"),
          shiftright(col("h"), 6).as("w"))
        .select(col("source"), col("bucket"),
          when(col("w") === 0, lit(55))
            .otherwise(lit(55) - length(conv(col("w"), 10, 2)))
            .as("rho"))
      val perSource = rhos.groupBy("source", "bucket")
        .agg(max("rho").as("reg"))
        .groupBy("source")
        .agg(sum(expr("shiftleft(cast(1 as bigint), 55 - reg)")).as("s_occ"),
          count(lit(1)).as("n_occ"))
      val exact = vocab.groupBy("source")
        .agg(count(lit(1)).as("exact_distinct"))
      val sTotal = (col("s_occ") +
        (lit(64L) - col("n_occ")) * lit(36028797018963968L)).cast("double")
      val est = lit(0.709) * lit(4096.0) * pow(lit(2.0), lit(55)) / sTotal
      exact.join(perSource, "source")
        .select(col("source"), col("exact_distinct"),
          (lit(64L) - col("n_occ")).as("zero_registers"),
          round(est, 4).as("hll_est"),
          round((est - col("exact_distinct")) / col("exact_distinct"), 4)
            .as("rel_err"))
        .orderBy("source")
    },
    Some("""with tok0 as (
      select source, unnest(string_split(text, ' ')) as tok from documents
    ), vocab as (
      select distinct source, tok from tok0 where tok <> ''
    ), hashed as (
      select source, ('0x' || substr(md5(tok), 1, 15))::bigint as h
      from vocab
    ), rhos as (
      select source, (h & 63) as bucket,
        case when (h >> 6) = 0 then 55
             else 55 - length(bin(h >> 6)) end as rho
      from hashed
    ), regs as (
      select source, bucket, max(rho) as reg
      from rhos group by source, bucket
    ), per_source as (
      select source,
        sum((1::bigint << (55 - reg)))::bigint as s_occ,
        count(*) as n_occ
      from regs group by source
    ), exact as (
      select source, count(*) as exact_distinct from vocab group by source
    )
    select e.source, e.exact_distinct,
      (64 - p.n_occ) as zero_registers,
      round(0.709 * 4096.0 * pow(2.0, 55) /
        ((p.s_occ + (64 - p.n_occ) * 36028797018963968)::double), 4) + 0.0
        as hll_est,
      round((0.709 * 4096.0 * pow(2.0, 55) /
          ((p.s_occ + (64 - p.n_occ) * 36028797018963968)::double)
          - e.exact_distinct) / e.exact_distinct, 4) + 0.0 as rel_err
    from exact e join per_source p using (source)
    order by source"""),
    "corpus sketching: HyperLogLog distinct-token estimate vs exact, integer-exact registers")

  /** HLL register MERGE — the property that makes sketches the 100 TB tool:
    * per-source registers (t41's construction) combine into any union by a
    * bucket-wise max, so |A ∪ B| costs 64 rows per side instead of a
    * re-scan, and |A ∩ B| falls out by inclusion–exclusion
    * (est_a + est_b − est_union). Every source pair is scored both ways.
    * The vocabulary is scanned ONCE (persisted) and everything derives from
    * it: the sketch path touches only the (source, bucket, reg) table — 64
    * rows/source regardless of corpus size — the exact intersection is the
    * one vocab self-join the ground truth genuinely needs, and the exact
    * union falls out by inclusion–exclusion from per-source exact counts
    * (|A|+|B|−|A∩B|) instead of a second pair-fanned vocab scan. The DuckDB
    * oracle deliberately keeps the direct union-distinct construction, so
    * the cross-engine compare independently checks the identity. Pair
    * fan-out is a single broadcast of the source list against the tiny
    * register table (least/greatest orders the pair), never an OR-condition
    * nested loop; all post-aggregate assembly joins are broadcast (row
    * counts bounded by #sources²). Integer-exact register arithmetic as t41.
    */
  /** t42's kernel on an arbitrary `(source, text)` frame — shared by the
    * registry query and ScaleCheck's `hll_union` decade leg. Persists its
    * vocab and register scans (the single-scan property the replan is
    * built on); a caller that loops over growing inputs should clear the
    * cache between calls.
    */
  def hllUnionStats(docs: DataFrame): DataFrame = {
      val md5int = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val vocab = docs
        .select(col("source"), explode(toks(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
        .persist()
      val regs = vocab
        .select(col("source"), md5int(col("tok")).as("h"))
        .select(col("source"),
          col("h").bitwiseAND(lit(63L)).as("bucket"),
          shiftright(col("h"), 6).as("w"))
        .select(col("source"), col("bucket"),
          when(col("w") === 0, lit(55))
            .otherwise(lit(55) - length(conv(col("w"), 10, 2)))
            .as("rho"))
        .groupBy("source", "bucket").agg(max("rho").as("reg"))
        .persist()
      val term = expr("shiftleft(cast(1 as bigint), 55 - reg)")
      def estOf(sOcc: Column, nOcc: Column): Column =
        lit(0.709) * lit(4096.0) * pow(lit(2.0), lit(55)) /
          (sOcc + (lit(64L) - nOcc) * lit(36028797018963968L)).cast("double")
      // Per-source sketch registers AND exact distinct counts off the same
      // persisted scans — one tiny frame, broadcast into the assembly.
      val srcStats = regs.groupBy("source")
        .agg(sum(term).as("s_occ"), count(lit(1)).as("n_occ"))
        .join(vocab.groupBy("source").agg(count(lit(1)).as("n_exact")),
          "source")
      // Pair fan-out: each register row pairs with every OTHER source via
      // one broadcast join; (least, greatest) canonicalizes the pair key,
      // so rows from both members land under the same (sa, sb).
      val others = regs.select("source").distinct()
        .withColumnRenamed("source", "other")
      val unionEst = regs
        .join(broadcast(others), col("source") =!= col("other"))
        .select(least(col("source"), col("other")).as("sa"),
          greatest(col("source"), col("other")).as("sb"),
          col("bucket"), col("reg"))
        .groupBy("sa", "sb", "bucket").agg(max("reg").as("reg"))
        .groupBy("sa", "sb")
        .agg(sum(term).as("s_u"), count(lit(1)).as("n_u"))
      val exactInter = vocab.as("x")
        .join(vocab.as("y"),
          col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("n_inter"))
      val pa = srcStats.select(col("source").as("sa"),
        col("s_occ").as("s_a"), col("n_occ").as("n_a"),
        col("n_exact").as("x_a"))
      val pb = srcStats.select(col("source").as("sb"),
        col("s_occ").as("s_b"), col("n_occ").as("n_b"),
        col("n_exact").as("x_b"))
      unionEst
        .join(broadcast(exactInter), Seq("sa", "sb"), "left")
        .join(broadcast(pa), "sa").join(broadcast(pb), "sb")
        .select(col("sa"), col("sb"),
          (col("x_a") + col("x_b") - coalesce(col("n_inter"), lit(0L)))
            .as("exact_union"),
          coalesce(col("n_inter"), lit(0L)).as("exact_inter"),
          round(estOf(col("s_u"), col("n_u")), 4).as("hll_union"),
          round(estOf(col("s_a"), col("n_a")) + estOf(col("s_b"), col("n_b"))
            - estOf(col("s_u"), col("n_u")), 4).as("hll_inter"))
        .orderBy("sa", "sb")
  }

  val t42 = Q(
    "t42_hll_union",
    (s, dir) => hllUnionStats(Tables.documents(s, dir)),
    Some("""with tok0 as (
      select source, unnest(string_split(text, ' ')) as tok from documents
    ), vocab as (
      select distinct source, tok from tok0 where tok <> ''
    ), rhos as (
      select source, (h & 63) as bucket,
        case when (h >> 6) = 0 then 55
             else 55 - length(bin(h >> 6)) end as rho
      from (select source, ('0x' || substr(md5(tok), 1, 15))::bigint as h
            from vocab)
    ), regs as (
      select source, bucket, max(rho) as reg
      from rhos group by source, bucket
    ), per_src as (
      select source, sum((1::bigint << (55 - reg)))::bigint as s_occ,
        count(*) as n_occ
      from regs group by source
    ), pairs as (
      select a.source as sa, b.source as sb
      from (select distinct source from vocab) a
      join (select distinct source from vocab) b on a.source < b.source
    ), pair_regs as (
      select p.sa, p.sb, r.bucket, r.reg
      from regs r join pairs p on r.source = p.sa
      union all
      select p.sa, p.sb, r.bucket, r.reg
      from regs r join pairs p on r.source = p.sb
    ), union_est as (
      select sa, sb, sum((1::bigint << (55 - reg)))::bigint as s_u,
        count(*) as n_u
      from (select sa, sb, bucket, max(reg) as reg
            from pair_regs group by sa, sb, bucket)
      group by sa, sb
    ), exact_union as (
      select sa, sb, count(*) as exact_union from (
        select distinct sa, sb, tok from (
          select p.sa, p.sb, v.tok
          from vocab v join pairs p on v.source = p.sa
          union all
          select p.sa, p.sb, v.tok
          from vocab v join pairs p on v.source = p.sb))
      group by sa, sb
    ), exact_inter as (
      select x.source as sa, y.source as sb, count(*) as n_inter
      from vocab x join vocab y
        on x.tok = y.tok and x.source < y.source
      group by x.source, y.source
    )
    select u.sa, u.sb, u.exact_union,
      coalesce(i.n_inter, 0) as exact_inter,
      round(0.709 * 4096.0 * pow(2.0, 55) /
        ((e.s_u + (64 - e.n_u) * 36028797018963968)::double), 4) + 0.0
        as hll_union,
      round(0.709 * 4096.0 * pow(2.0, 55) /
          ((pa.s_occ + (64 - pa.n_occ) * 36028797018963968)::double)
        + 0.709 * 4096.0 * pow(2.0, 55) /
          ((pb.s_occ + (64 - pb.n_occ) * 36028797018963968)::double)
        - 0.709 * 4096.0 * pow(2.0, 55) /
          ((e.s_u + (64 - e.n_u) * 36028797018963968)::double), 4) + 0.0
        as hll_inter
    from exact_union u
    left join exact_inter i on i.sa = u.sa and i.sb = u.sb
    join per_src pa on pa.source = u.sa
    join per_src pb on pb.source = u.sb
    join union_est e on e.sa = u.sa and e.sb = u.sb
    order by u.sa, u.sb"""),
    "corpus sketching: HLL register merge — pairwise union + inclusion-exclusion intersection")

  /** Quantile estimation from a DETERMINISTIC hash sample — the 100 TB
    * length-distribution audit. Spark's exact `percentile` buffers every
    * value per group; at corpus scale the standard move is a fixed-rate
    * sample whose membership is a pure function of the key (md5(doc_id) %
    * 100 < 10), so the sample is reproducible across runs/engines, needs no
    * RNG state, and bounds the percentile buffer at 10% of the group. Both
    * the exact and the sampled p50/p90/p99 ship per source, with the
    * relative error the estimate carries — the number that tells a pipeline
    * owner whether the cheap path is good enough (here ≤ a few % at 10%
    * sampling on 250-doc groups).
    */
  val t43 = Q(
    "t43_quantile_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("double").as("v"),
          (pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15),
            16, 10).cast("long"), lit(100L)) < 10).as("in_sample"))
      docs.groupBy("source")
        .agg(
          count(lit(1)).as("n"),
          sum(col("in_sample").cast("long")).as("sample_n"),
          round(expr("percentile(v, 0.5)"), 4).as("exact_p50"),
          round(expr("percentile(v, 0.9)"), 4).as("exact_p90"),
          round(expr("percentile(v, 0.99)"), 4).as("exact_p99"),
          round(expr("percentile(if(in_sample, v, null), 0.5)"), 4)
            .as("sample_p50"),
          round(expr("percentile(if(in_sample, v, null), 0.9)"), 4)
            .as("sample_p90"),
          round(expr("percentile(if(in_sample, v, null), 0.99)"), 4)
            .as("sample_p99"))
        .orderBy("source")
    },
    Some("""with d as (
      select source, n_chars::double as v,
        ((('0x' || substr(md5(doc_id::varchar), 1, 15))::bigint % 100) < 10)
          as in_sample
      from documents
    )
    select source,
      count(*) as n,
      sum(case when in_sample then 1 else 0 end)::bigint as sample_n,
      round(quantile_cont(v, 0.5), 4) + 0.0 as exact_p50,
      round(quantile_cont(v, 0.9), 4) + 0.0 as exact_p90,
      round(quantile_cont(v, 0.99), 4) + 0.0 as exact_p99,
      round(quantile_cont(case when in_sample then v end, 0.5), 4) + 0.0
        as sample_p50,
      round(quantile_cont(case when in_sample then v end, 0.9), 4) + 0.0
        as sample_p90,
      round(quantile_cont(case when in_sample then v end, 0.99), 4) + 0.0
        as sample_p99
    from d group by source order by source"""),
    "quantiles from a deterministic hash sample vs exact, per source")
}

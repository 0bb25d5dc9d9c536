"""Stage profile for pipeline_curate_e2e / pipeline_crawl_e2e (VERDICT r13
#3: both lines drifted upward across two driver records — curate 9.33 ->
11.07 s, crawl 7.52 -> 9.05 s; name which stage moved before it compounds).

Replays each composed pipeline with a timer at every forced
materialization boundary (the same caches/eager counts the gated query
performs; extra counts at uncached boundaries add one pass and are
marked +). r12 reference split for crawl (PLANS.md): WARC write 1.3 s,
read+extract+dedup+politeness+cache 2.6 s, quality/classifier+embedding
cache 2.4 s, SemDeDup+split+agg 3.0 s.

Run: python tools/exp_pipeline_stage_profile.py [reps]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from fermor_spark.datasets import table
from fermor_spark.session import (get_spark, local_frame, managed_cache,
                                  release_caches)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Stages:
    def __init__(self):
        self.t = time.perf_counter()
        self.rows = []

    def mark(self, name):
        now = time.perf_counter()
        self.rows.append((name, round(now - self.t, 3)))
        self.t = now


def profile_curate(spark) -> list:
    import shutil
    import tempfile

    from fermor_spark.pipeline.dedup import (cut_spans, decontaminate,
                                             dedup_clusters,
                                             minhash_dedup_pairs,
                                             shingle_table)
    from fermor_spark.pipeline.sample import hash_split
    from fermor_spark.pipeline.sink import read_corpus_jsonl, write_corpus_jsonl
    from fermor_spark.pipeline.text import gopher_repetition, repetition_metrics

    st = Stages()
    d = table(spark, SF_DIR, "documents").select("doc_id", "text")
    rep = repetition_metrics(d, "doc_id", "text")
    keep = rep.where(
        (F.col("n_tokens") >= 20) & (F.col("dup_token_frac") <= 0.65)
    ).select(F.col("id").alias("doc_id"))
    s1 = d.join(keep, "doc_id", "left_semi")
    gr = gopher_repetition(s1, "doc_id", "text").where("passes").select(
        F.col("id").alias("doc_id"))
    s2 = s1.join(gr, "doc_id", "left_semi")
    # the gate's own first action is the s3 cache count, which pulls
    # quality+gopher+ESD through in one pass — same boundary here
    s3 = cut_spans(s2, "doc_id", "text", k=20, min_count=2, min_span=40).select(
        "doc_id", F.col("cleaned_text").alias("text"))
    s3 = managed_cache(s3)
    s3.count()
    st.mark("quality+gopher+esd+cache")
    sh_raw = shingle_table(s3, "doc_id", "text", 3)
    n_parts = max(spark.sparkContext.defaultParallelism,
                  sh_raw.rdd.getNumPartitions())
    sh = managed_cache(sh_raw.repartition(n_parts, "id"))
    sh.count()
    st.mark("shingle_cache")
    pairs = minhash_dedup_pairs(s3, "doc_id", "text", num_hashes=8, bands=4,
                                threshold=0.8, shingle_n=3, shingles=sh)
    clus = dedup_clusters(pairs.select("id_a", "id_b"), s3.select("doc_id"))
    reps = clus.where(F.col("id") == F.col("cluster")).select(
        F.col("id").alias("doc_id"))
    # checkpoint at the stage boundary so the downstream stages don't
    # re-evaluate the uncached pairs/cluster chain (the gate fuses s4..sink
    # into one action; the profile pays one extra materialization instead
    # of N re-evaluations)
    s4 = s3.join(reps, "doc_id", "left_semi").localCheckpoint(eager=True)
    st.mark("minhash+clusters")
    bench = d.where(F.col("doc_id") % 20 == 0)
    train = s4.where(F.col("doc_id") % 20 != 0)
    train_sh = sh.join(
        train.select(F.col("doc_id").alias("id")), "id", "left_semi")
    s5 = decontaminate(train, bench, n=3, min_overlap=2, min_bench_frac=0.5,
                       train_shingles=train_sh).localCheckpoint(eager=True)
    st.mark("decontaminate")
    s6 = hash_split(s5, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
                    seed="split")
    tmp = tempfile.mkdtemp(prefix="fermor_curate_profile_")
    path = f"{tmp}/corpus"
    write_corpus_jsonl(s6, path, partition_by=("split",),
                       max_records_per_file=10_000)
    st.mark("split+jsonl_sink")
    back = read_corpus_jsonl(spark, path, schema=s6.schema)
    out = back.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15),
                     16, 10).cast("long") % 1000000000).alias("text_checksum"),
    )
    out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    st.mark("readback+agg")
    return st.rows


def profile_crawl(spark) -> list:
    import shutil
    import tempfile

    from fermor_spark.pipeline.sample import hash_split
    from fermor_spark.pipeline.similarity import semantic_dedup
    from fermor_spark.pipeline.text import classifier_score, repetition_metrics
    from fermor_spark.pipeline.url import (domain_filter, robots_filter,
                                           url_host, url_normalize)
    from fermor_spark.pipeline.warc import read_warc_html, write_warc

    st = Stages()
    d = table(spark, SF_DIR, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    host = F.when(F.col("source") == "src0", "ads.example.com") \
        .when(src_num % 2 == 1, "news.example.org") \
        .otherwise("blog.example.net")
    path = F.concat(
        F.when((src_num % 2 == 1) & (F.col("doc_id") % 3 == 0),
               F.lit("/private/")).otherwise(F.lit("/d/")),
        F.col("doc_id").cast("string"))
    esc = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.col("text"), "&", "&amp;"),
                         "<", "&lt;"), ">", "&gt;")
    page = F.concat(
        F.lit('<html><head><title>Doc '), F.col("doc_id"),
        F.lit(' &amp; friends</title><script>var x="<p>not text</p>";'
              '</script></head><body><nav><a href="/">Home</a> '
              '<a href="/x">More</a> <a href="/y">Links</a></nav>'
              '<article><p>'), esc,
        F.lit('</p></article><footer><a href="/t">Terms</a> '
              '<a href="/p">Privacy</a></footer></body></html>'))
    canonical = F.concat(F.lit("http://"), host, path)
    messy = F.concat(
        F.lit("HTTP://"), F.upper(host), F.lit(":80"),
        F.regexp_replace(path, "/", "//"), F.lit("/"),
        F.lit("?utm_source=x&fbclid=y#frag"))
    pages = d.select(canonical.alias("url"),
                     F.encode(page, "UTF-8").alias("payload")) \
        .unionAll(d.select(messy.alias("url"),
                           F.encode(page, "UTF-8").alias("payload")))
    tmp = tempfile.mkdtemp(prefix="fermor_crawl_profile_")
    write_warc(pages, f"{tmp}/crawl", n_files=8, compress=True)
    st.mark("warc_fixture_write")

    ex = read_warc_html(spark, f"{tmp}/crawl")
    nu = url_normalize(ex.select("url", "extracted_text"), "url")
    uniq = nu.groupBy("norm_url").agg(
        F.min_by("extracted_text", "url").alias("text"))
    polite = robots_filter(
        domain_filter(url_host(uniq, "norm_url"), "host",
                      ["ads.example.com"]).where("kept"),
        "norm_url",
        local_frame(
            spark, [("news.example.org", "User-agent: *\nDisallow: /private/")],
            "host string, robots_txt string"))
    docs = polite.where("robots_ok").select(
        F.element_at(F.split("norm_url", "/"), -1).cast("long")
        .alias("doc_id"), "text")
    docs = managed_cache(docs)
    docs.count()
    st.mark("warc_read+extract+dedup+polite+cache")

    rep = repetition_metrics(docs, "doc_id", "text")
    keep = rep.where(
        (F.col("n_tokens") >= 20) & (F.col("dup_token_frac") <= 0.65)
    ).select(F.col("id").alias("doc_id"))
    s1 = docs.join(keep, "doc_id", "left_semi")
    cls = classifier_score(s1, "doc_id", "text").where("passes").select(
        F.col("id").alias("doc_id"))
    s2 = s1.join(cls, "doc_id", "left_semi")
    emb = table(spark, SF_DIR, "embeddings").join(
        s2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
    emb = managed_cache(emb)
    emb.count()
    st.mark("quality+classifier+emb_cache")
    sd = semantic_dedup(emb, threshold=0.45, k=8).where("kept").select(
        F.col("vec_id").alias("doc_id"))
    s3 = s2.join(sd, "doc_id", "left_semi")
    s4 = hash_split(s3, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
                    seed="split")
    out = s4.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15),
                     16, 10).cast("long") % 1000000000).alias("text_checksum"))
    out.collect()
    shutil.rmtree(tmp, ignore_errors=True)
    st.mark("semdedup+split+agg")
    return st.rows


def main() -> None:
    import gc

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="pipeline-stage-profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("documents", "embeddings"):
        table(spark, SF_DIR, t).count()
    t0 = time.perf_counter()
    for _ in range(24):
        spark.range(1024).repartition(32).count()
    floor = round(time.perf_counter() - t0, 3)
    results = {"sf_dir": SF_DIR, "sched_floor": floor,
               "curate": [], "crawl": []}
    for r in range(reps):
        for key, fn in (("curate", profile_curate), ("crawl", profile_crawl)):
            release_caches()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.3)
            rows = fn(spark)
            results[key].append(rows)
            print(f"rep {r} {key}: total="
                  f"{round(sum(t for _, t in rows), 2)} "
                  + " ".join(f"{n}={t}" for n, t in rows), flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()

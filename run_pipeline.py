#!/usr/bin/env python3
"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --py-files stackoverflowner_spark.zip run_pipeline.py \
        --pages /path/to/pages_parquet --out /path/to/out \
        [--mode fused|checkpointed] [--synth N] [--buckets 64] \
        [--link broadcast|salted|fuzzy] [--lang en]

With --synth N (no --pages), a deterministic synthetic pages table is
generated in-flight. Checkpointed mode resumes automatically from the
lineage records under --out.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet/Iceberg path")
    ap.add_argument("--posts-xml", help="Stack Exchange Posts.xml dump path "
                                        "(the reference's input format)")
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic pages")
    ap.add_argument("--emit-conll", metavar="DIR",
                    help="also write the extracted sentences as 4-col CoNLL "
                         "text (reference corpus format) under DIR")
    ap.add_argument("--out", required=True)
    ap.add_argument("--mode", choices=["fused", "checkpointed"], default="checkpointed")
    ap.add_argument("--prev-pages",
                    help="previous crawl snapshot (pages parquet); together "
                         "with --prev-triples, only changed+added pages are "
                         "re-extracted (operators/incremental.py) — fused "
                         "mode only")
    ap.add_argument("--prev-triples",
                    help="the previous snapshot's triples parquet")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--sorted-layout", action="store_true",
                    help="subject-clustered triple files (sortWithin"
                         "Partitions before the write; row-group stats "
                         "then prune subject point lookups) — fused "
                         "mode only")
    ap.add_argument("--link", choices=["broadcast", "salted", "fuzzy"],
                    default="broadcast",
                    help="'fuzzy' adds a typo-repair pass: mentions with "
                         "no exact alias match re-key to their nearest "
                         "alias within Levenshtein 1 (operators/link.py "
                         "link_fuzzy); exact matches are bit-identical "
                         "to 'broadcast'")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--master", default=None)
    ap.add_argument("--emit-ntriples", metavar="DIR",
                    help="also export the triples as RDF N-Triples text "
                         "under DIR (operators/triples.ntriples_lines)")
    ap.add_argument("--analytics", metavar="DIR",
                    help="after the triple write, emit KG graph analytics "
                         "under DIR: entity pagerank, per-node triangle "
                         "counts, the 2-core, LPA communities, "
                         "HyperBall harmonic centrality, and sampled "
                         "Brandes betweenness "
                         "(operators/graphalgo.py, hyperball.py) "
                         "over the alias_of/instance_of edge structure")
    ap.add_argument("--embeddings", metavar="DIR",
                    help="after the triple write, train deterministic "
                         "TransE embeddings on the KG (operators/"
                         "kgembed.py) and emit entity/relation vectors "
                         "under DIR, plus a filtered link-prediction "
                         "eval (MRR, hits@k) on a hash-held-out split")
    ap.add_argument("--embed-dim", type=int, default=16)
    ap.add_argument("--embed-epochs", type=int, default=10)
    ap.add_argument("--embed-model", choices=["transe", "sgns"],
                    default="transe",
                    help="transe: translation embeddings on typed triples "
                         "(operators/kgembed); sgns: DeepWalk — random-walk "
                         "corpus + skip-gram on the KG projection graph "
                         "(operators/walks + operators/sgns)")
    ap.add_argument("--tagger",
                    choices=["default", "gazetteer", "perceptron", "viterbi"],
                    default="default",
                    help="'default' loads the shipped Viterbi+CTC+seg artifact "
                         "(63.1 test F1); gazetteer is the zero-artifact "
                         "fallback; perceptron/viterbi retrain from --gold-train")
    ap.add_argument("--tagger-artifact",
                    help="load a saved PerceptronTagger instead of training")
    ap.add_argument("--gold-train",
                    default="/root/reference/resources/annotated_ner_data/"
                            "StackOverflow/train.txt",
                    help="gold split used to train the learned tagger")
    args = ap.parse_args(argv)

    from stackoverflowner_spark.operators.tagger import (GazetteerTagger,
                                                         PerceptronTagger,
                                                         default_tagger)
    from stackoverflowner_spark.plans.pipeline import KGPipeline
    from stackoverflowner_spark.session import get_spark
    from stackoverflowner_spark.sources.pages import synth_pages

    if args.tagger_artifact:
        tagger = PerceptronTagger.load(args.tagger_artifact)
    elif args.tagger == "default":
        tagger = default_tagger()
    elif args.tagger == "gazetteer":
        tagger = GazetteerTagger()
    else:
        tagger = PerceptronTagger.fit_from_gold(
            args.gold_train, structured=(args.tagger == "viterbi"))

    spark = get_spark(app_name="sokg-pipeline", master=args.master)
    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.posts_xml:
        from stackoverflowner_spark.sources.posts_xml import (posts_as_pages,
                                                              posts_xml)
        pages = posts_as_pages(posts_xml(spark, args.posts_xml))
    elif args.synth:
        pages = synth_pages(spark, args.synth)
    else:
        ap.error("need --pages, --posts-xml or --synth")

    pipe = KGPipeline(spark, args.out, n_buckets=args.buckets, tagger=tagger,
                      lang_filter=args.lang, link_strategy=args.link)
    t0 = time.time()

    if args.emit_conll:
        from pyspark.sql import functions as F

        from stackoverflowner_spark.operators.document_kernel import (
            extract_stage, sentences_stage)
        from stackoverflowner_spark.sources.sinks import write_conll
        sents = (sentences_stage(extract_stage(pages, args.lang))
                 .filter(F.col("sent_idx") >= 0)
                 .select(F.col("url").alias("file"), "sent_idx",
                         F.col("tokens").alias("words"), "md_tags"))
        # gold column = markdown sentinel channel (no human labels at ingest)
        write_conll(sents.withColumn("tags", F.col("md_tags")), args.emit_conll)
    if bool(args.prev_pages) != bool(args.prev_triples):
        ap.error("--prev-pages and --prev-triples must be given together")
    if args.prev_pages and args.mode != "fused":
        ap.error("incremental update requires --mode fused (checkpointed "
                 "mode has its own bucket-level resume)")
    if args.mode == "fused":
        if args.prev_pages:
            from stackoverflowner_spark.operators.incremental import (
                incremental_update, page_delta)
            prev_pages = spark.read.parquet(args.prev_pages)
            prev_triples = spark.read.parquet(args.prev_triples)
            # one fingerprint pass shared by the report and the update
            delta = page_delta(prev_pages, pages).localCheckpoint()
            report = {r["status"]: r["n"] for r in
                      delta.groupBy("status").count()
                      .withColumnRenamed("count", "n").collect()}
            print(json.dumps({"incremental_page_delta": report}))
            triples = incremental_update(prev_pages, pages, prev_triples,
                                         pipe.run_fused, delta=delta)
        else:
            triples = pipe.run_fused(pages)
        out_path = args.out + "/triples"
        if args.sorted_layout:
            from stackoverflowner_spark.operators.triples import \
                write_triples_sorted
            write_triples_sorted(triples, out_path)
        else:
            triples.write.mode("overwrite").partitionBy("part_hash") \
                .parquet(out_path)
    else:
        out_path = pipe.run_checkpointed(pages)
    n = spark.read.parquet(out_path).count()
    elapsed = time.time() - t0
    print(json.dumps({"triples": n, "sec": round(elapsed, 2),
                      "triples_per_sec": round(n / elapsed, 1), "out": out_path}))
    if args.emit_ntriples:
        from stackoverflowner_spark.operators.triples import ntriples_lines
        ntriples_lines(spark.read.parquet(out_path)) \
            .write.mode("overwrite").text(args.emit_ntriples)
        print(json.dumps({"ntriples": spark.read.text(
            args.emit_ntriples).count(), "dir": args.emit_ntriples}))
    if args.analytics:
        from pyspark.sql import functions as F2

        from stackoverflowner_spark.operators.graphalgo import (
            betweenness, kcore, lpa_communities, modularity,
            refine_communities, sample_pivots, triangle_count)
        from stackoverflowner_spark.operators.hyperball import (
            harmonic_centrality_est, hyperball)
        from stackoverflowner_spark.operators.pagerank import entity_pagerank
        triples_df = spark.read.parquet(out_path)
        # entity-to-entity structure only (alias_of/instance_of), the
        # same edge reading entity_pagerank uses
        edges = (triples_df
                 .filter(F2.col("pred").isin("alias_of", "instance_of"))
                 .select(F2.col("subj").alias("src"),
                         F2.col("obj").alias("dst")).distinct()
                 .localCheckpoint())
        entity_pagerank(triples_df).write.mode("overwrite").parquet(
            args.analytics + "/pagerank")
        triangle_count(edges).write.mode("overwrite").parquet(
            args.analytics + "/triangles")
        kcore(edges, k=2).write.mode("overwrite").parquet(
            args.analytics + "/kcore2")
        refine_communities(edges, lpa_communities(edges)) \
            .write.mode("overwrite").parquet(
                args.analytics + "/communities")
        harmonic_centrality_est(
            hyperball(edges, max_radius=8, b=6, direction="in")) \
            .write.mode("overwrite").parquet(args.analytics + "/harmonic")
        betweenness(edges, sources=sample_pivots(edges, 32),
                    scale=True) \
            .write.mode("overwrite").parquet(args.analytics + "/betweenness")
        stats = {
            "edges": edges.count(),
            "pagerank_rows": spark.read.parquet(
                args.analytics + "/pagerank").count(),
            "triangle_nodes": spark.read.parquet(
                args.analytics + "/triangles").count(),
            "kcore2_nodes": spark.read.parquet(
                args.analytics + "/kcore2").count(),
            "communities": spark.read.parquet(
                args.analytics + "/communities")
                .select("community").distinct().count(),
            "harmonic_rows": spark.read.parquet(
                args.analytics + "/harmonic").count(),
            "betweenness_rows": spark.read.parquet(
                args.analytics + "/betweenness").count(),
            "modularity": modularity(
                edges, spark.read.parquet(args.analytics + "/communities"))
                .collect()[0].q,
        }
        print(json.dumps({"analytics": stats, "dir": args.analytics}))
    if args.embeddings and args.embed_model == "sgns":
        from pyspark.sql import functions as F3

        from stackoverflowner_spark.operators.sgns import sgns_train
        from stackoverflowner_spark.operators.walks import random_walks
        kg = (spark.read.parquet(out_path)
              .select("subj", "pred", "obj").distinct())
        edges = (kg.filter(F3.col("subj") != F3.col("obj"))
                 .select(F3.least("subj", "obj").alias("src"),
                         F3.greatest("subj", "obj").alias("dst"))
                 .distinct())
        walks = random_walks(edges, walks_per_node=4, walk_len=8,
                             start_bucket=None)
        emb_in, emb_out = sgns_train(walks, dim=args.embed_dim,
                                     epochs=args.embed_epochs)
        emb_in.write.mode("overwrite").parquet(args.embeddings + "/nodes")
        emb_out.write.mode("overwrite").parquet(
            args.embeddings + "/nodes_out")
        print(json.dumps({"embeddings": {
            "model": "sgns",
            "nodes": spark.read.parquet(
                args.embeddings + "/nodes").count(),
            "walks": walks.count(),
            "dim": args.embed_dim, "epochs": args.embed_epochs,
        }, "dir": args.embeddings}))
    elif args.embeddings:
        from pyspark.sql import functions as F3

        from stackoverflowner_spark.operators.kgembed import (
            transe_eval, transe_train)
        kg = (spark.read.parquet(out_path)
              .select("subj", "pred", "obj").distinct())
        # hash-held-out test split (backfill-stable, like hash_split):
        # ~5% of triples, never seen by the trainer
        key = F3.md5(F3.concat_ws("\x1f", "subj", "pred", "obj"))
        is_test = (F3.conv(F3.substring(key, 1, 8), 16, 10)
                   .cast("long") % 20 == 0)
        train = kg.filter(~is_test).localCheckpoint()
        test = kg.filter(is_test).localCheckpoint()
        ent, rel = transe_train(train, dim=args.embed_dim,
                                epochs=args.embed_epochs)
        ent.write.mode("overwrite").parquet(args.embeddings + "/entities")
        rel.write.mode("overwrite").parquet(args.embeddings + "/relations")
        ev = transe_eval(test, train, ent, rel).collect()[0]
        print(json.dumps({"embeddings": {
            "entities": spark.read.parquet(
                args.embeddings + "/entities").count(),
            "relations": spark.read.parquet(
                args.embeddings + "/relations").count(),
            "dim": args.embed_dim, "epochs": args.embed_epochs,
            # a tiny KG can leave the hash-held-out split empty: the
            # ratios come back null, reported as 0.0
            "eval_n": ev.n, "mrr": round(ev.mrr or 0.0, 4),
            "hits1": round(ev.hits1 or 0.0, 4),
            "hits10": round(ev.hits10 or 0.0, 4),
        }, "dir": args.embeddings}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

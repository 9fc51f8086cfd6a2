#!/usr/bin/env python
"""spark-submit entry point: build an index and run queries against it.

The north_rule requires the build to run "via spark-submit --py-files
on a multi-executor cluster".  This is that job script; the package
ships as a zip built by :func:`package_pyfiles` (``--package`` mode).

Cluster usage::

    python tools/submit_job.py --package /tmp/searchengine_spark.zip
    spark-submit --master spark://... \
        --py-files /tmp/searchengine_spark.zip \
        tools/submit_job.py build --corpus <table-or-dir> --out <dir> \
        [--buckets 4096] [--salts 16]
    spark-submit --py-files ... tools/submit_job.py query \
        --index <dir> --query "block max wand" [--repo r] [--k 10]

Local smoke (what tests/test_submit.py actually runs)::

    spark-submit --master 'local[4]' --py-files <zip> tools/submit_job.py ...

The script itself imports only from the zipped package, so it works on
executors that have ONLY the --py-files artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def package_pyfiles(out_zip: str) -> str:
    """Zip the searchengine_spark package for --py-files shipping."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "searchengine_spark")
    with zipfile.ZipFile(out_zip, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out_zip


def cmd_build(args) -> None:
    from searchengine_spark import IndexConfig, get_spark
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.sources.corpus import load_corpus

    spark = get_spark(app_name="searchengine-build")
    docs = load_corpus(spark, args.corpus)
    metrics = build_index(
        spark,
        docs,
        args.out,
        IndexConfig(n_buckets=args.buckets, n_salts=args.salts),
        source=args.corpus,
        force=args.force,
        store_content=args.store_content,
    )
    print(
        "BUILD_RESULT "
        + json.dumps(
            {
                "n_docs": metrics["stage1"]["n_docs"],
                "postings": metrics["stage1"]["postings_emitted"],
                "n_terms": metrics["stage2"]["n_terms"],
                "bytes_compressed": metrics["stage2"]["bytes_compressed"],
                "stage1_sec": metrics["stage1"]["wall_sec"],
                "stage2_sec": metrics["stage2"]["wall_sec"],
            }
        )
    )


def cmd_query(args) -> None:
    from searchengine_spark import get_spark
    from searchengine_spark.query.engine import SearchEngine

    spark = get_spark(app_name="searchengine-query")
    eng = SearchEngine(spark, args.index)
    res = eng.search(
        args.query,
        limit=args.k,
        repo=args.repo,
        mode=args.mode,
        with_snippets=False,
    )
    print("QUERY_RESULT " + json.dumps(res))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--package", help="write the --py-files zip and exit")
    sub = ap.add_subparsers(dest="cmd")
    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--buckets", type=int, default=8)
    b.add_argument("--salts", type=int, default=4)
    b.add_argument("--force", action="store_true")
    b.add_argument("--store-content", action="store_true")
    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--repo", default=None)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--mode", default="and")
    args = ap.parse_args()
    if args.package:
        print("PACKAGED " + package_pyfiles(args.package))
        return
    if args.cmd == "build":
        cmd_build(args)
    elif args.cmd == "query":
        cmd_query(args)
    else:
        ap.print_help()
        sys.exit(2)


if __name__ == "__main__":
    main()

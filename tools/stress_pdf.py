"""PDF ingest stress: replicate the sf corpus Nx, synthesize real
PDFs (mixed layouts — classic / xref-stream / ObjStm — and mixed
fonts — Type1 / Type0-Identity-H, chosen per doc_id so every reader
path carries real volume), extract text back and verify the EXACT
8-word-line round trip for every document, plus the error-column
contract on a slice of deliberately corrupted documents. Emits one
JSON line (commit under bench_runs/ as r{N}_stress_pdf.json).

Usage: python tools/stress_pdf.py [replicas]   (default 10)
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Iterator

import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    import pyspark.sql.functions as F

    from teste_carga_avro_vs_json_spark.operators import pdf_extract as px
    from teste_carga_avro_vs_json_spark.session import get_spark, load_table

    spark = get_spark("stress-pdf")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.crossJoin(spark.range(replicas).select(F.col("id").alias("r")))
        .select(
            (F.col("doc_id") * replicas + F.col("r")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" zrep"), F.col("r").cast("string")
            ).alias("text"),
        )
        .repartition(cpus)
        .persist()
    )
    n_docs = corpus.count()
    out = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "replicas": replicas,
        "rows_nx": n_docs,
    }

    # mixed-variant builder: layout/font/compress chosen per doc_id so
    # every reader path carries ~1/12 of the volume
    layouts = ["classic", "xref_stream", "objstm"]

    @F.pandas_udf("binary")
    def mk(ids: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # struct input arrives as a pd.DataFrame per batch
        for pdf_batch in ids:
            built = []
            for doc_id, text in zip(pdf_batch["doc_id"], pdf_batch["text"]):
                words = (text or "").split()
                lines = [
                    " ".join(words[i : i + 8])
                    for i in range(0, max(len(words), 1), 8)
                ]
                pages = [
                    lines[i : i + 40] for i in range(0, len(lines), 40)
                ] or [[""]]
                # r10: 1/15 of classic docs are encrypted with the
                # empty user password (the common crawl case) — the
                # decrypt paths carry real volume, same exact pin.
                # Revisions cycle RC4 R2/R3 + AES R4/R5; R6 rides a
                # thin slice (its Algorithm 2.B hardened hash is a
                # deliberate ~0.5 s/derivation KDF — representative
                # volume, not dominant volume)
                if doc_id % 3 == 0 and doc_id % 5 == 0:
                    rev = 6 if doc_id % 750 == 0 else (
                        (2, 3, 4, 5)[(doc_id // 15) % 4]
                    )
                    encrypt = {"revision": rev, "user_password": ""}
                else:
                    encrypt = None
                built.append(
                    px.build_pdf(
                        pages,
                        compress=bool(doc_id % 2),
                        layout=layouts[doc_id % 3],
                        font="type0" if doc_id % 4 == 0 else "type1",
                        encrypt=encrypt,
                    )
                )
            yield pd.Series(built)

    t0 = time.perf_counter()
    pdfs = corpus.select(
        "doc_id",
        "text",
        mk(F.struct("doc_id", "text")).alias("pdf"),
    )
    # poison ~1% of docs to exercise the error column at volume
    poisoned = pdfs.withColumn(
        "pdf",
        F.when(
            F.col("doc_id") % 97 == 0,
            F.expr("substring(pdf, 1, 40)"),
        ).otherwise(F.col("pdf")),
    )
    extracted = px.extract_text_pdf(poisoned).persist()
    n_err = extracted.where("error is not null").count()
    out["build_extract_sec"] = round(time.perf_counter() - t0, 2)
    out["n_errors"] = n_err
    out["expected_errors"] = n_docs // 97 + (1 if n_docs % 97 else 0)

    # exact round trip on the clean docs: rebuild the expected 8-word
    # line structure JVM-side and compare
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    staged = corpus.select("doc_id", toks.alias("toks"))
    expect = staged.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        F.floor((F.size("toks") - 1) / 8).cast("int"),
                        F.lit(0),
                    ),
                ),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * 8 + 1, 8), " "
                ),
            ),
            "\n",
        ).alias("want"),
    )
    good = extracted.where("error is null")
    t0 = time.perf_counter()
    mismatches = (
        good.join(expect, "doc_id")
        .where(F.col("text") != F.trim(F.col("want")))
        .count()
    )
    out["verify_sec"] = round(time.perf_counter() - t0, 2)
    out["n_extracted"] = n_docs - n_err
    out["n_mismatch"] = mismatches
    out["roundtrip_exact"] = (
        mismatches == 0 and n_err == out["expected_errors"]
    )
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

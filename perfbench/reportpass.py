"""One pass of the paper's own analysis, the GDELT report path, run in
traced runs of every workload to measure the `etl`, `ml`, `nlp` and
`reports` layers:

    etl.queries.synth_gkg_raw -> etl.gdelt.build_core (materialised by
    write_core) -> qa_summary -> etl.analysis.* -> ml.pipeline.fit_binary_lr
    -> nlp modality shares -> ml.tfidf -> reports.markdown

Its input is GKG-shaped, derived from a seeded `documents` table the way
`synth_gkg_raw` derives it.  Each pass is checked like an op: the QA row
equals the registered DuckDB oracle `gdelt_qa_summary`, and the QA,
weekly and LR outputs are identical across passes.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyspark.sql.functions as F

import gen

# URL path words are alpha/gemini/radio/daily, so both flags fire.
KEYWORDS = {"k_genai": ("gemini", "gpt"), "k_dio": ("dio",)}
LR_FEATURES = ["url_length", "num_themes", "num_orgs", *KEYWORDS] + [
    f"v2tone_{i}" for i in range(1, 8)
]


class ReportPass:
    N_DOCS = 5000  # sf0.1's documents row count
    # TF-IDF runs over the first documents only, as the registered
    # `tfidf_top_terms` does: over all 5000 the step alone takes ~16 s.
    TFIDF_DOCS = 500

    def __init__(self, seed: int, work_dir: str, tracer, scale: float = 1.0):
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "report-sf")
        self.core_path = os.path.join(work_dir, "report-core")
        self.tracer = tracer
        self.n_docs = max(100, int(self.N_DOCS * scale))
        self.first = None

    def inputs(self) -> dict:
        return {"gkg_rows": self.n_docs}

    def generate(self) -> None:
        """The seeded documents, and the QA row the registered DuckDB
        oracle computes from them."""
        import duckdb

        from newsflow import registry

        gen.write_table(
            gen.documents(self.seed, self.n_docs, 0.0, 0.0), self.sf_dir, "documents"
        )
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.sf_dir}/documents.parquet')"
            )
            self.expected_qa = tuple(
                con.execute(registry.all_specs()["gdelt_qa_summary"].oracle).fetchone()
            )
        finally:
            con.close()

    def run(self, spark):
        from newsflow.etl import analysis
        from newsflow.etl.gdelt import (
            DEFAULT_LABEL_WINDOWS,
            build_core,
            qa_summary,
            write_core,
        )
        from newsflow.etl.queries import synth_gkg_raw
        from newsflow.ml.pipeline import fit_binary_lr
        from newsflow.ml.tfidf import fit_transform_tfidf
        from newsflow.nlp.queries import modality_shares_by_lang
        from newsflow.reports.markdown import network_report, weekly_summary_report
        from newsflow.tables import load_table

        span = self.tracer.span
        flag = "k_genai"
        t0 = time.perf_counter()
        with span("report.pass"):
            with span("etl.gdelt.build_core"):
                core = build_core(synth_gkg_raw(spark, self.sf_dir), keyword_lists=KEYWORDS)
                write_core(core, self.core_path)
            core = spark.read.parquet(self.core_path)
            with span("etl.gdelt.qa_summary"):
                qa = tuple(qa_summary(core).collect()[0])
            with span("etl.analysis"):
                with span("etl.analysis.weekly_stats"):
                    weekly = analysis.weekly_stats(core, tuple(KEYWORDS)).collect()
                with span("etl.analysis.entity_sentiment"):
                    analysis.entity_sentiment(
                        core, {"GenAI": "k_genai", "Dio": "k_dio"}
                    ).collect()
                with span("etl.analysis.top_sources_for"):
                    sources = analysis.top_sources_for(core, flag, limit=10).collect()
                with span("etl.analysis.co_mentions"):
                    partners = analysis.co_mentions(
                        core, flag, exclude=("the", "data"), limit=10
                    ).collect()
                with span("etl.analysis.theme_topk"):
                    themes = analysis.theme_topk(core, flag, limit=10).collect()
            with span("ml.pipeline.fit_binary_lr"):
                lr = fit_binary_lr(
                    core.filter(
                        F.col("label_week").isin([w[0] for w in DEFAULT_LABEL_WINDOWS])
                    ),
                    "label_week",
                    LR_FEATURES,
                    seed=self.seed,
                )
            with span("nlp.queries.modality_shares_by_lang"):
                modality_shares_by_lang(spark, self.sf_dir).collect()
            with span("ml.tfidf.fit_transform_tfidf"):
                docs = load_table(spark, self.sf_dir, "documents")
                fit_transform_tfidf(
                    docs.filter(F.col("doc_id") < self.TFIDF_DOCS), k=5
                ).select("doc_id", "top_terms").collect()
            with span("reports.markdown"):
                stats = pd.DataFrame([r.asDict() for r in weekly])
                coefs = pd.DataFrame(lr.coefficients, columns=["feature", "coef"])
                weekly_summary_report(stats, coefs, lr.auc)
                network_report(
                    [
                        ("Top sources", pd.DataFrame([r.asDict() for r in sources])),
                        ("Co-mentions", pd.DataFrame([r.asDict() for r in partners])),
                        ("Themes", pd.DataFrame([r.asDict() for r in themes])),
                    ]
                )
        wall = time.perf_counter() - t0

        out = (
            qa,
            sorted((tuple(r) for r in weekly), key=repr),
            (lr.coefficients, lr.intercept, lr.auc, lr.label_values),
        )
        if qa != self.expected_qa:
            return wall, 1, f"qa_summary {qa} != oracle {self.expected_qa}"
        if self.first is None:
            self.first = out
        elif out != self.first:
            return wall, 1, "report outputs differ between passes"
        return wall, 1, None

"""run_job output pinned per template: sha256 over the sorted rows of
extracted/, chunks/ and index/ for every chunking template, over one
small mixed table of HTML pages and PDFs (single-column, two-column and
caption/table papers)."""

import hashlib
import json

import pytest
from pyspark.sql import functions as F
from test_checkpoint_resume import _committed_counts

SF = "/root/testdata/sf0.001"

EXTRACTED = "0d0831f30a555cb8b5d582baca8b2c76bb39eb84878b612f74bcd879ad1f62bf"

# template -> (extracted/, chunks/, index/) digests; extracted/ does not
# depend on the template
DIGESTS = {
    "naive": (EXTRACTED,
              "4ee588761c63d7ed853c0f9e3150828f02bdf79d0ea7b7756cfe4bf499678cfe",
              "40619175f3aea8d5e1ca1794daae5138850a3edc5de6ce8efd955082f35eac89"),
    "book": (EXTRACTED,
             "644bc23a166c6c440be192644fae4d6431430cfbec7b62147decdc487936a6d4",
             "677fc60ea83ddfcef3aee6a2fc7b59abf926483f61db33d0e218c0eb787283d6"),
    "one": (EXTRACTED,
            "a17036828e0fcf353866c53f1b1aefe4dbe7849638c1f136a92286920cd49307",
            "0e5c5468b1ce77d38857487533e55445d1a048231342fb118657e83e18930f8a"),
    "paper": (EXTRACTED,
              "4fd3448d9bea266d98638c17aaabf753a320223bd96294159f06a35590d29f83",
              "ce35e470916507f1c52bf71ba5726c820e760e64a57e5cb794e00ed6d86a399d"),
    "laws": (EXTRACTED,
             "e31d658fa16d1e6179a64905bd46297089c34a5c9be151d440dfb302ec2c42aa",
             "92a6639fb16ce42607947bee89dda13ab10ea51e173bda57458fa2b0c8074716"),
}


@pytest.fixture(scope="module")
def mixed_pages(spark, tmp_path_factory):
    from ragflow_spark.corpus import gen

    doc_id = F.element_at(F.split("url", "/"), -1).cast("int")
    # every HTML family (doc_id % 5) and both table-split variants of
    # the caption/table papers (doc_id % 3) occur in the sample
    parts = [gen.build_pages(spark, SF).where(doc_id % 7 == 0)]
    for build in (gen.build_pdf_pages, gen.build_pdf2_pages,
                  gen.build_pdft_pages):
        parts.append(build(spark, SF).where(doc_id % 31 == 1))
    path = str(tmp_path_factory.mktemp("mixed") / "pages.parquet")
    pages = parts[0].select("url", "html")
    for p in parts[1:]:
        pages = pages.unionByName(p.select("url", "html"))
    pages.coalesce(2).write.parquet(path)
    return path


def _digest(spark, path: str, drop: tuple = ()) -> str:
    rows = spark.read.parquet(path).drop(*drop).collect()
    lines = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                              ensure_ascii=False) for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


@pytest.mark.parametrize("template", sorted(DIGESTS))
def test_run_job_output_pinned(spark, mixed_pages, tmp_path, template):
    from ragflow_spark.job.run_extract import run_job

    out = str(tmp_path / "out")
    run_job(spark, mixed_pages, out, template=template, n_buckets=4,
            waves=2, index=True, index_clock=1_700_000_000.0)
    got = (_digest(spark, f"{out}/extracted"),
           _digest(spark, f"{out}/chunks"),
           # create_time is index_clock rendered in the local time zone
           _digest(spark, f"{out}/index", drop=("create_time",)))
    assert got == DIGESTS[template]
    # every lineage row's metrics are those of the committed files,
    # including documents without chunks (HTML pages under paper)
    counts = _committed_counts(spark, out)
    lineage = spark.read.parquet(f"{out}/_checkpoint").collect()
    assert sorted(r.bucket for r in lineage) == [0, 1, 2, 3]
    for r in lineage:
        assert (r.n_docs, r.n_chunks, r.n_bytes) == \
            counts.get(r.bucket, (0, 0, 0)), r.bucket

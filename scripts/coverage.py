#!/usr/bin/env python3
"""Generate COVERAGE.md: SURVEY §2 operator id → queries that exercise it
(from QueryDef.covers tags) + module/test coverage for source-layer ids."""
import re, glob, collections

MODULE_COVERED = {
    "S1": "sources.PagedJsonSource (+ SourcesSpec) — REST pagination, driver-side by design",
    "S3": "operators.Unnest (+ UnnestSpec) — same explode/concat pattern as S2",
    "S8": "sources.PagedJsonSource (+ SourcesSpec) — per-entity GET loop",
    "S9": "sources.XlsxSource (+ XlsxSourceSpec) — native read.xlsx: zip+XML via the JDK, shared/inline strings, formula caches, readSurveyWorkbook entry",
    "S7": "sources.RDataSource (+ RDataSourceSpec, GoldenSpec questions/cash_projects tests) — native load(): gzip+XDR via the JDK, NAs/factors/ALTREP; parquet staging for bulk",
    "S10": "sources.CsvSources.readWeoTsv (+ SourcesSpec) — UTF-16 TSV, multi-NA scrub",
    "S11": "sources.WeoSource (+ WeoSourceSpec) — cadence/version probing engine-side; the HTTP fetch stays driver-side (zero egress)",
    "S12": "sources.SdmxDecoder (+ SourcesSpec)",
    "S13": "cached-CSV reads via sources.CsvSources (SURVEY §2.1)",
    "SE3": "not used by the reference (SURVEY §2.8)",
}

survey_ids, desc = [], {}
for line in open("SURVEY.md"):
    m = re.match(r"\| (S\d+|F\d+|J\d+|R\d+|A\d+|W\d+|SE\d+|C\d+|U\d+) \| ([^|]+) \|", line)
    if m and m.group(1) not in desc:
        survey_ids.append(m.group(1))
        desc[m.group(1)] = m.group(2).strip().replace("**", "")

covers = collections.defaultdict(list)
for f in sorted(glob.glob("src/main/scala/graft/queries/*.scala")):
    src = open(f).read()
    for m in re.finditer(r'QueryDef\("(q\d+_\w+)",\s*Seq\(([^)]*)\)', src):
        name = m.group(1)
        for i in re.findall(r'"([A-Z]+\d+)"', m.group(2)):
            covers[i].append(name)

key = lambda x: (re.match(r"[A-Z]+", x).group(), int(re.search(r"\d+", x).group()))
out = ["# COVERAGE — SURVEY §2 operator inventory → engine artifacts",
       "",
       "Generated by `scripts/coverage.py`. Every id is exercised by named",
       "oracle-checked queries (see `graft.queries.*`, gate: `scripts/selfcheck.py`)",
       "and/or a library module with its ScalaTest suite.",
       "",
       "| id | reference operator | engine coverage |",
       "|---|---|---|"]
missing = []
for i in sorted(set(survey_ids), key=key):
    qs = ", ".join(sorted(set(covers.get(i, []))))
    mod = MODULE_COVERED.get(i, "")
    cov = "; ".join(x for x in [qs, mod] if x)
    if not cov:
        missing.append(i)
        cov = "**MISSING**"
    out.append(f"| {i} | {desc[i]} | {cov} |")
open("COVERAGE.md", "w").write("\n".join(out) + "\n")
print(f"{len(set(survey_ids))} ids, missing: {missing or 'none'}")

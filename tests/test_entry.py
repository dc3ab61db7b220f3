from __future__ import annotations

import importlib
import os


def test_unchanged_zip_is_not_reparsed(tmp_path):
    """importlib.invalidate_caches() (which pyspark's worker calls before
    every task) re-reads a zip archive's directory only when the archive
    changed since its last read: an unchanged archive is not re-parsed,
    and a rewritten one is, so a module added to it becomes importable."""
    import sys
    import zipfile
    import zipimport

    import hadoop_digit_recognition_spark  # noqa: F401  (installs the fix)

    zpath = str(tmp_path / "zprobe.zip")

    def write(*mods):
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zprobe_pkg/__init__.py", "")
            for m in mods:
                z.writestr(f"zprobe_pkg/{m}.py", f"NAME = {m!r}\n")

    write("a")
    sys.path.insert(0, zpath)
    original = zipimport._read_directory
    reads = []
    zipimport._read_directory = lambda p: reads.append(p) or original(p)
    try:
        importlib.import_module("zprobe_pkg.a")
        importlib.invalidate_caches()  # first call per archive reads it
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []
        write("a", "b")
        importlib.invalidate_caches()
        assert zpath in reads
        assert importlib.import_module("zprobe_pkg.b").NAME == "b"
    finally:
        zipimport._read_directory = original
        sys.path.remove(zpath)
        for k in [k for k in sys.path_importer_cache if k.startswith(zpath)]:
            del sys.path_importer_cache[k]
        for k in [k for k in sys.modules if k.startswith("zprobe_pkg")]:
            del sys.modules[k]


def test_worker_does_not_reparse_unchanged_zips(spark):
    """The same fix inside Spark's Python workers. An engine mapInArrow
    runs twice; in the second job every task counts the zip directory
    reads of one importlib.invalidate_caches() and must see none. The
    call before the count lets a worker that has only just imported the
    engine package record its archives first."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from hadoop_digit_recognition_spark.rbm.cd1 import _matrix
    from hadoop_digit_recognition_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    df = spark.range(0, 8, numPartitions=2).select(
        F.array(F.col("id").cast("double")).alias("v"))

    def probe(batches):
        # _matrix is pickled by reference: unpickling imports the engine
        import zipimport

        n = sum(len(_matrix(b.column(0), 1)) for b in batches)
        importlib.invalidate_caches()
        original = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda p: reads.append(p) or original(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pa.RecordBatch.from_pydict({"n": [n], "reads": [len(reads)]})

    for _ in range(2):
        rows = df.mapInArrow(probe, "n bigint, reads bigint").collect()
    assert sum(r.n for r in rows) == 8
    assert [r.reads for r in rows] == [0, 0]


def test_entry_smoke(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 64 * 16
    assert set(df.columns) == {"idx", "dw"}
    assert any(r["dw"] != 0.0 for r in rows)


def test_every_query_has_runnable_shape(spark):
    mod = importlib.import_module("__spark_entry__")
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert "rbm_cd1_epoch" in osql


def test_bench_headline_names_registered():
    """Every bench.py HEADLINE name must exist in the registry — a typo
    here would crash the driver's per-round bench run."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "hdr_bench", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
    missing = [n for n in bench.HEADLINE if n not in SPARK_QUERIES]
    assert not missing, missing


def test_every_rows_only_query_is_justified_and_bounded():
    """Contract hygiene: a query registered without an oracle MUST carry
    (reason, bounding_test) via rows_only=, and the named pytest must
    actually exist — so no result ever goes ungraded."""
    import glob
    import re

    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL,
        ROWS_ONLY,
        SPARK_QUERIES,
    )

    rows_only = {n for n in SPARK_QUERIES if n not in ORACLE_SQL}
    missing = rows_only - set(ROWS_ONLY)
    assert not missing, f"rows-only queries without justification: {missing}"
    stale = set(ROWS_ONLY) - rows_only
    assert not stale, f"justifications for non-rows-only queries: {stale}"

    test_dir = os.path.dirname(os.path.abspath(__file__))
    defined = set()
    for path in glob.glob(os.path.join(test_dir, "test_*.py")):
        defined |= set(re.findall(r"^def (test_\w+)", open(path).read(),
                                  re.MULTILINE))
    for name, (reason, test_name) in ROWS_ONLY.items():
        assert reason.strip(), name
        assert test_name in defined, (
            f"{name} names bounding test {test_name!r} which does not exist")


def test_driver_window_rotation_order():
    """The registry reorder that rotates the driver's fixed-size
    correctness window must (a) put any query whose MOST RECENT driver
    row was red at the very front, (b) order the rest by how many
    rounds have sampled them (never-sampled first), and (c) be a pure
    permutation — recomputed here independently against the real
    CORRECTNESS_r*.json files."""
    import glob as _glob
    import json

    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    times_seen: dict[str, int] = {}
    last_green: dict[str, bool] = {}
    for path in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rows = json.load(open(path))
        for name, row in rows.items():
            times_seen[name] = times_seen.get(name, 0) + 1
            last_green[name] = (row.get("hash_match") is True
                                or row.get("err") == "no_oracle")
    if not times_seen:
        return  # round 1: nothing to rotate against
    names = list(SPARK_QUERIES)
    assert len(names) == len(set(names))

    def key(n):
        return (-1 if last_green.get(n, True) is False
                else times_seen.get(n, 0))

    keys = [key(n) for n in names]
    assert keys == sorted(keys), (
        "registry order does not rotate the driver window: first "
        "out-of-order entry at index "
        f"{next(i for i in range(len(keys) - 1) if keys[i] > keys[i + 1])}")
    # every historically-red name (if still registered) sits before any
    # never-sampled one
    reds = [n for n in names if last_green.get(n) is False]
    if reds:
        last_red_idx = max(names.index(n) for n in reds)
        first_unseen = next((i for i, n in enumerate(names)
                             if n not in times_seen), len(names))
        assert last_red_idx < first_unseen


def test_queries_md_fresh():
    """QUERIES.md must be regenerated whenever the registry changes
    (VERDICT r07 ask #3 found it stale by 2 entries): the generated
    header count and the per-query rows must match the live registry
    exactly — both directions."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "QUERIES.md")).read()
    m = re.search(r"^(\d+) registered queries, (\d+) with DuckDB oracles",
                  text, re.M)
    assert m, "QUERIES.md header missing"
    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)
    assert int(m.group(1)) == len(SPARK_QUERIES), (
        "QUERIES.md stale: rerun scripts/gen_query_index.py")
    assert int(m.group(2)) == len(ORACLE_SQL), (
        "QUERIES.md stale: rerun scripts/gen_query_index.py")
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    missing = set(SPARK_QUERIES) - listed
    extra = listed - set(SPARK_QUERIES)
    assert not missing, f"QUERIES.md missing rows: {sorted(missing)[:5]}"
    assert not extra, f"QUERIES.md has unregistered rows: {sorted(extra)[:5]}"


def test_readme_fresh():
    """README.md's registry counts must track the live registry (VERDICT
    r08 ask #4: README drifted to 412/402 and a '9 queries' taxonomy
    while the registry moved to 413/403/10 — QUERIES.md had a freshness
    assert, README did not). Pins every count the README states."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "README.md")).read()
    from hadoop_digit_recognition_spark.all_queries import (
        ORACLE_SQL, SPARK_QUERIES)

    m = re.search(r"`queries\(\)` \((\d+) named queries\)", text)
    assert m and int(m.group(1)) == len(SPARK_QUERIES), (
        f"README stale: says {m and m.group(1)} named queries, registry "
        f"has {len(SPARK_QUERIES)}")
    m = re.search(r"`oracle_sql\(\)` \((\d+) DuckDB oracles", text)
    assert m and int(m.group(1)) == len(ORACLE_SQL), (
        f"README stale: says {m and m.group(1)} DuckDB oracles, registry "
        f"has {len(ORACLE_SQL)}")
    n_rows_only = len(SPARK_QUERIES) - len(ORACLE_SQL)
    for pat in (r"the (\d+) rows-only entries",
                r"The (\d+) queries without DuckDB oracles"):
        m = re.search(pat, text)
        assert m and int(m.group(1)) == n_rows_only, (
            f"README stale on rows-only count ({pat}): says "
            f"{m and m.group(1)}, registry has {n_rows_only}")


def test_plans_audit_fresh():
    """PLANS_AUDIT.md must carry one row for every bench HEADLINE and
    TAIL query — the same generated-artifact freshness regime as
    QUERIES.md and README.md (rerun scripts/gen_plan_audit.py after
    changing the bench lists or any audited plan)."""
    import re

    from bench import HEADLINE, HEADLINE_V2, TAIL

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "PLANS_AUDIT.md")).read()
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    expected = set(HEADLINE) | set(TAIL) | set(HEADLINE_V2)
    missing = expected - listed
    extra = listed - expected
    assert not missing, (
        f"PLANS_AUDIT.md stale, missing rows: {sorted(missing)[:5]} — "
        f"rerun scripts/gen_plan_audit.py")
    assert not extra, (
        f"PLANS_AUDIT.md has rows no longer in bench lists: "
        f"{sorted(extra)[:5]} — rerun scripts/gen_plan_audit.py")


def test_advice_ledger_fresh():
    """ADVICE.md is the advisor's review ledger; VERDICT r09 ask #3
    requires it to never go stale again (r08's items sat fixed in-tree
    while the ledger still showed them open). Contract: every flagged
    item (a `- **severity** path:line —` bullet) must have its
    `path:line` token re-appear in a `## Resolution` section recording
    what was done (FIXED / DISPUTED / ACCEPTED-RISK + evidence). A new
    advisor drop without resolutions fails here until the builder
    responds item by item."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ADVICE.md")
    if not os.path.exists(path):
        return
    text = open(path).read()
    items = re.findall(
        r"^- \*\*(?:low|medium|high)\*\* (\S+?:\d+)", text, re.M)
    if not items:
        return
    assert "## Resolution" in text, (
        "ADVICE.md has flagged items but no '## Resolution' section")
    resolution = text[text.index("## Resolution"):]
    missing = [loc for loc in items if loc not in resolution]
    assert not missing, (
        f"ADVICE.md items without a resolution entry: {missing}")

"""CLI parity with the reference driver (SURVEY.md §3 E1).

Reference invocation (/root/reference/driver.java:39-60):

    DeepLearningDriver <input> <output> <maxEpoch> <numLayer> <n0> <n1> ... [numCase]

Same positional surface here:

    python -m hadoop_digit_recognition_spark.cli \\
        <input> <output> <maxEpoch> <numLayer> <n0> <n1> ... [numCase]

- <input>: a parquet file with an array column (engine standard), or a
  directory of reference text example lines (auto-detected by extension).
- <output>: directory; layer-k weights land in <output>/weights_k.txt
  (the reference's one-line text format) and final activations in
  <output>/activations.parquet (columnar — the engine replacement for the
  reference's per-layer text datasets).
- numCase: optional configured mean denominator (reference defect D10
  kept as an explicit fidelity switch; default = observed count).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F


def _run_query(argv: list[str]) -> int:
    """`run <query_name> <sf_dir> [out_dir]`: execute any registered
    engine query against a testdata directory; print rows (default),
    write parquet, or `--explain` the formatted physical plan.
    `run --list` enumerates the registry."""
    from .all_queries import SPARK_QUERIES
    from .session import get_spark

    explain = "--explain" in argv
    argv = [a for a in argv if a != "--explain"]
    if not argv or argv[0] in ("--list", "-l"):
        for name in sorted(SPARK_QUERIES):
            print(name)
        return 0
    name = argv[0]
    if name not in SPARK_QUERIES:
        print(f"unknown query {name!r}; `run --list` shows all "
              f"{len(SPARK_QUERIES)} registered queries", file=sys.stderr)
        return 2
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("hdr-cli-run")
    df = SPARK_QUERIES[name](spark, sf_dir)
    if explain:
        from .plans import explain_formatted
        print(explain_formatted(df))
        return 0
    if len(argv) > 2:
        df.write.mode("overwrite").parquet(argv[2])
        print(f"wrote {argv[2]}")
    else:
        df.show(50, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    def _is_driver_form(a: list[str]) -> bool:
        # reference-driver positional form: <inp> <outp> <max_epoch>
        # <num_layer> <sizes...> — epoch/layer-count parse as ints
        if len(a) < 5:
            return False
        try:
            int(a[2]); int(a[3])
        except ValueError:
            return False
        return True

    if argv and argv[0] == "run" and not _is_driver_form(argv):
        # engine extension: generic query runner (`run --list`, `run
        # <name> <sf_dir> [out]`). An input directory literally named
        # 'run' still routes to the reference-driver positional form
        # below, which wins whenever the argv parses as it — exact
        # reference parity is never shadowed.
        return _run_query(argv[1:])
    if len(argv) < 5:
        print(__doc__)
        return 2
    inp, outp = argv[0], argv[1]
    max_epoch, num_layer = int(argv[2]), int(argv[3])
    if len(argv) < 4 + num_layer:
        print(f"need {num_layer} layer sizes", file=sys.stderr)
        return 2
    sizes = [int(x) for x in argv[4:4 + num_layer]]
    numcase = int(argv[4 + num_layer]) if len(argv) > 4 + num_layer else None

    from .rbm.cd1 import forward_prop_df
    from .rbm.trainer import DBN
    from .session import get_spark
    from .sources.text_format import read_examples_text, write_weights_text

    spark = get_spark("hdr-cli")
    if inp.endswith(".parquet"):
        df = spark.read.parquet(inp)
        vec_col = next(c for c, t in df.dtypes if t.startswith("array"))
        df = df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    else:
        df = read_examples_text(spark, inp, sizes[0])
        vec_col = "v"

    # layer loop (driver.java:64): DBN.fit trains every layer from one
    # parsed copy of the input; then each layer's weights are written in
    # the reference's text format and the input forward-propped to act{k}
    dbn = DBN(sizes, max_epoch=max_epoch, seed=42,
              numcase=numcase).fit(df, vec_col)
    cur, cur_col = df, vec_col
    for layer, W in enumerate(dbn.weights):
        nd, nh = W.shape
        write_weights_text(W, os.path.join(outp, f"weights_{layer}.txt"))
        nxt = f"act{layer + 1}"
        cur = forward_prop_df(cur, cur_col, W, out_col=nxt)
        cur_col = nxt
        print(f"layer {layer}: {nd}->{nh}, {max_epoch} epochs, "
              f"|W|_mean={abs(W).mean():.6f}")

    cur.write.mode("overwrite").parquet(
        os.path.join(outp, "activations.parquet"))
    print(f"wrote {outp}/activations.parquet")
    return 0


if __name__ == "__main__":
    sys.exit(main())

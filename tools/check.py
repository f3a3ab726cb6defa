#!/usr/bin/env python3
"""Local correctness harness mimicking the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]

Reads each parquet result written by graft.Verify under <outDir>/<name>,
runs the matching SQL from <outDir>/oracle_sql.json in DuckDB with views
over <sfDir>'s tables, sorts columns by name + rows by all columns, and
compares cell-wise (exact for non-floats, atol=1e-9 for floats). A query
named on the command line that has no result directory is a FAIL.
"""
import sys, json, os, math, time
import resource
import duckdb
import numpy as np
import pandas as pd

# the unrolled oracle plans (30 CC rounds x 8 window chunks) open many
# parquet handles; the default 1024-fd soft limit trips mid-battery
_soft, _hard = resource.getrlimit(resource.RLIMIT_NOFILE)
resource.setrlimit(resource.RLIMIT_NOFILE, (min(1 << 20, _hard), _hard))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df[sorted(df.columns)]
    if len(df) and len(df.columns):
        # sort on float columns ROUNDED to the tolerance scale so two
        # rows whose floats differ only within atol can't align in
        # opposite orders on the two sides
        key = df.copy()
        for c in key.columns:
            if key[c].dtype.kind == "f":
                key[c] = key[c].round(6)
        order = key.sort_values(by=list(key.columns), kind="mergesort").index
        df = df.loc[order].reset_index(drop=True)
    return df

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # out-of-core settings: the sf1 oracles (exact all-pairs / MMR pool
    # CTEs) exceed RAM without a spill directory — r11 recorded
    # q_mmr_rerank / q_lof_approx as oracle-capacity failures at sf1.
    # A spill dir + relaxed insertion order lets DuckDB go out-of-core
    # instead of aborting; harmless at the small SFs.
    spill = f"/tmp/duck_spill_{os.getpid()}"  # per-process: parallel
    os.makedirs(spill, exist_ok=True)         # lanes must not collide
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET max_temp_directory_size='60GB'")
    con.execute("SET preserve_insertion_order=false")
    # cap RAM so parallel harness lanes can't OOM-kill each other; the
    # spill directory absorbs the difference (DUCK_MEM to override)
    con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '40GB')}'")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    results = sorted(d for d in os.listdir(outdir)
                     if os.path.isdir(f"{outdir}/{d}"))
    npass = nfail = 0
    def compare_streamed(name, got_path, oracle_sql, t_start):
        """Chunked compare for results too large for pandas (e.g.
        q_auto_match at sf1: 89.6M rows — an amplifier artifact where
        identical titles across copies explode the join). Both sides
        are ordered BY DUCKDB (same collation/NULL rules), streamed in
        record batches, and compared cell-wise; float columns order by
        their rounded value like norm() does."""
        got_rel = f"SELECT * FROM '{got_path}'"
        cols = sorted(con.sql(got_rel + " LIMIT 0").df().columns)
        probe = con.sql(got_rel + " LIMIT 0").df()
        def okey(c):
            return (f"round({c}, 6)"
                    if probe[c].dtype.kind == "f" else c)
        sel = ", ".join(cols)
        order = ", ".join(okey(c) for c in cols)
        cur_g = con.cursor()
        cur_e = con.cursor()
        cur_g.execute(f"SELECT {sel} FROM ({got_rel}) g ORDER BY {order}")
        cur_e.execute(f"SELECT {sel} FROM ({oracle_sql}) e ORDER BY {order}")
        nrows = 0
        # fetch_df_chunk may return SHORT batches anywhere in the
        # stream (pipeline-dependent, esp. with
        # preserve_insertion_order=false), and the two sides' batch
        # boundaries need not line up — re-buffer each side and
        # compare equal-length aligned slices.
        buf_g, buf_e = [], []
        len_g = len_e = 0
        done_g = done_e = False
        while True:
            while not done_g and len_g < 65536:
                ch = cur_g.fetch_df_chunk(16)
                if len(ch) == 0:
                    done_g = True
                else:
                    buf_g.append(ch); len_g += len(ch)
            while not done_e and (len_e < len_g or len_e == 0):
                ch = cur_e.fetch_df_chunk(16)
                if len(ch) == 0:
                    done_e = True
                else:
                    buf_e.append(ch); len_e += len(ch)
            take = min(len_g, len_e)
            if take == 0:
                if done_g and done_e and len_g == 0 and len_e == 0:
                    print(f"PASS {name}: {nrows} rows (streamed, "
                          f"{time.time() - t_start:.1f}s)", flush=True)
                    return True
                print(f"FAIL {name}: row counts diverge near row {nrows} "
                      f"(spark exhausted={done_g}, oracle exhausted={done_e})")
                return False
            g = pd.concat(buf_g, ignore_index=True)
            e = pd.concat(buf_e, ignore_index=True)
            buf_g = [g.iloc[take:].reset_index(drop=True)] if len_g > take else []
            buf_e = [e.iloc[take:].reset_index(drop=True)] if len_e > take else []
            len_g -= take; len_e -= take
            g = g.iloc[:take]; e = e.iloc[:take]
            for c in cols:
                gv, ev = g[c].values, e[c].values
                if np.issubdtype(g[c].dtype, np.floating):
                    neq = ~(np.isclose(gv.astype(float), ev.astype(float),
                                       rtol=0, atol=1e-9)
                            | (pd.isna(gv) & pd.isna(ev)))
                else:
                    neq = np.array([str(a) != str(b) for a, b in zip(gv, ev)])
                if neq.any():
                    i = int(np.argmax(neq))
                    print(f"FAIL {name}: col {c} differs at row {nrows + i}: "
                          f"got={gv[i]!r} exp={ev[i]!r}")
                    return False
            nrows += len(g)

    def compare_chunked(name, got_path, oracle_sql, t_start, n_big):
        """Ids-first hash-sliced compare for results too large even to
        ORDER BY once (q_auto_match at sf3: ~800M rows needs >68 GB of
        sort spill). The oracle is materialized ONCE to parquet with a
        plain COPY (streaming, no global sort), then both sides are
        compared in hash(non-float cols) % K slices — each slice sorts
        ~CHECK_CHUNK_ROWS rows, bounding sort memory by slice width
        instead of result size. Float columns never enter the slicing
        hash (a sub-atol bit diff must not route the two sides' row to
        different slices); they are compared within the slice at the
        usual atol."""
        got_rel = f"SELECT * FROM '{got_path}'"
        probe = con.sql(got_rel + " LIMIT 0").df()
        cols = sorted(probe.columns)
        hash_cols = [c for c in cols if probe[c].dtype.kind != "f"]
        if not hash_cols:  # nothing stable to slice on
            return compare_streamed(name, got_path, oracle_sql, t_start)
        exp_path = f"{spill}/{name}_exp.parquet"
        con.execute(f"COPY ({oracle_sql}) TO '{exp_path}' (FORMAT PARQUET)")
        n_exp = con.execute(
            f"SELECT COUNT(*) FROM '{exp_path}'").fetchone()[0]
        if n_exp != n_big:
            print(f"FAIL {name}: rows {n_big} != {n_exp}")
            os.unlink(exp_path)
            return False
        per = int(os.environ.get("CHECK_CHUNK_ROWS", "8000000"))
        k_slices = max(1, (n_big + per - 1) // per)
        def okey(c):
            return f"round({c}, 6)" if probe[c].dtype.kind == "f" else c
        sel = ", ".join(cols)
        order = ", ".join(okey(c) for c in cols)
        pred_cols = ", ".join(hash_cols)
        nrows = 0
        try:
            for k in range(k_slices):
                pred = f"hash({pred_cols}) % {k_slices} = {k}"
                g = con.sql(f"SELECT {sel} FROM '{got_path}' "
                            f"WHERE {pred} ORDER BY {order}").df()
                e = con.sql(f"SELECT {sel} FROM '{exp_path}' "
                            f"WHERE {pred} ORDER BY {order}").df()
                if len(g) != len(e):
                    print(f"FAIL {name}: slice {k}/{k_slices} rows "
                          f"{len(g)} != {len(e)}")
                    return False
                for c in cols:
                    gv, ev = g[c].values, e[c].values
                    if np.issubdtype(g[c].dtype, np.floating):
                        neq = ~(np.isclose(gv.astype(float), ev.astype(float),
                                           rtol=0, atol=1e-9)
                                | (pd.isna(gv) & pd.isna(ev)))
                    else:
                        neq = np.array(
                            [str(a) != str(b) for a, b in zip(gv, ev)])
                    if neq.any():
                        i = int(np.argmax(neq))
                        print(f"FAIL {name}: col {c} differs in slice {k} "
                              f"at row {i}: got={gv[i]!r} exp={ev[i]!r}")
                        return False
                nrows += len(g)
            print(f"PASS {name}: {nrows} rows (chunked x{k_slices}, "
                  f"{time.time() - t_start:.1f}s)", flush=True)
            return True
        finally:
            try: os.unlink(exp_path)
            except OSError: pass

    # a named query that left no result (its Verify run threw, or the
    # name is mistyped) must not read as a clean run
    for name in sorted(only - set(results)):
        print(f"FAIL {name}: no result directory under {outdir}")
        nfail += 1
    for name in results:
        if only and name not in only:
            continue
        t_start = time.time()
        if name in oracle:
            n_big = con.execute(
                f"SELECT COUNT(*) FROM '{outdir}/{name}/*.parquet'").fetchone()[0]
            if n_big > 150_000_000 or (n_big > 20_000_000 and
                                       os.environ.get("CHECK_CHUNKED")):
                ok = compare_chunked(name, f"{outdir}/{name}/*.parquet",
                                     oracle[name], t_start, n_big)
                if ok: npass += 1
                else: nfail += 1
                continue
            if n_big > 20_000_000:
                ok = compare_streamed(name, f"{outdir}/{name}/*.parquet",
                                      oracle[name], t_start)
                if ok: npass += 1
                else: nfail += 1
                continue
        try:
            got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: cannot read result: {e}"); nfail += 1; continue
        if name not in oracle:
            status = "PASS(rows-only)" if len(got) > 0 else "FAIL(rows-only: 0 rows)"
            if len(got) > 0: npass += 1
            else: nfail += 1
            print(f"{status} {name}: {len(got)} rows"); continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); nfail += 1; continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}")
            nfail += 1; continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} != {len(e)}"); nfail += 1; continue
        bad = []
        for c in g.columns:
            gv, ev = g[c].values, e[c].values
            # the DRIVER hashes raw values: an int64 Spark column vs a
            # float64 oracle column (e.g. uncast DuckDB SUM -> HUGEINT ->
            # pandas float) hash-mismatches even when numerically equal.
            gf = np.issubdtype(g[c].dtype, np.floating)
            ef = np.issubdtype(e[c].dtype, np.floating)
            if gf != ef:
                bad.append((c, len(g), 0,
                            f"dtype {g[c].dtype}", f"dtype {e[c].dtype}"))
                continue
            if gf or ef:
                gv = pd.to_numeric(g[c], errors="coerce").values.astype(float)
                ev = pd.to_numeric(e[c], errors="coerce").values.astype(float)
                neq = ~(np.isclose(gv, ev, rtol=0, atol=1e-9) | (np.isnan(gv) & np.isnan(ev)))
                # sub-atol bit diffs survive the driver's float rounding
                # (r05 evidence: q_price_index cv diffs @1e-16 hash-matched)
                # but flag them — a value sitting on a rounding boundary
                # could still flip a digit.
                ulp = ~((gv == ev) | (np.isnan(gv) & np.isnan(ev))) & ~neq
                if not neq.any() and ulp.any():
                    i = int(np.argmax(ulp))
                    print(f"  WARN {name}.{c}: {int(ulp.sum())} sub-atol bit diffs, "
                          f"first@row{i}: got={g[c].iloc[i]!r} exp={e[c].iloc[i]!r}")
            else:
                neq = np.array([str(a) != str(b) for a, b in zip(gv, ev)])
            if neq.any():
                i = int(np.argmax(neq))
                bad.append((c, int(neq.sum()), i, g[c].iloc[i], e[c].iloc[i]))
        if bad:
            print(f"FAIL {name}: {len(g)} rows; mismatched cols:")
            for c, n, i, a, b in bad:
                print(f"   {c}: {n} diffs, first@row{i}: got={a!r} exp={b!r}")
            nfail += 1
        else:
            print(f"PASS {name}: {len(g)} rows ({time.time() - t_start:.1f}s)",
                  flush=True)
            npass += 1
    print(f"== {npass} pass / {nfail} fail ==")
    sys.exit(1 if nfail else 0)

if __name__ == "__main__":
    main()

"""Correctness checks, each paired with a proof that it can fail.

Every check is a pure function over outputs the run already collected:
it returns a list of problems, empty when the output is right. Each
``prove_*`` function feeds its check a deliberately wrong copy of a good
output (a row altered, a row dropped, a CDC batch left out of the
model, an orphaned file, a file short of the rows its log records, a
row streamed twice, a city miscounted) and returns a problem if the
check accepted it. The benchmark runs both after the timed passes, so a
check that has gone blind fails the run instead of passing it.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# ------------------------------------------------------------- query oracles


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form (the same rule as the repo's
    oracle tests): columns sorted by name, values stringified with
    floats at six decimals and nulls as ``NULL``, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            text = np.char.mod("%.6f", col.fillna(0.0).to_numpy())
        else:
            text = col.astype(str).to_numpy()
        out[c] = np.where(col.isna().to_numpy(), "NULL", text)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def _compare(name: str, a: pd.DataFrame, e: pd.DataFrame) -> list[str]:
    if list(a.columns) != list(e.columns):
        return [f"{name}: columns {list(a.columns)} != oracle {list(e.columns)}"]
    if len(a) != len(e):
        return [f"{name}: {len(a)} rows != oracle {len(e)}"]
    if not a.equals(e):
        diff = a.merge(e, how="outer", indicator=True)
        diff = diff[diff["_merge"] != "both"]
        return [f"{name}: values differ from oracle, e.g.\n{diff.head(4)}"]
    return []


def _altered(df: pd.DataFrame) -> pd.DataFrame:
    """``df`` with the first value of its first column changed, in the
    column's own type."""
    bad = df.copy()
    col = bad.columns[0]
    v = bad[col].iloc[0]
    numeric = pd.api.types.is_numeric_dtype(bad[col]) and not pd.api.types.is_bool_dtype(bad[col])
    if numeric and pd.notna(v):
        bad.loc[bad.index[0], col] = v + 1
    else:
        bad[col] = bad[col].astype(object)
        bad.loc[bad.index[0], col] = f"{v}~"
    return bad


def check_oracle(name: str, actual: pd.DataFrame, expected: pd.DataFrame) -> tuple[list[str], list[str]]:
    """Compare a query's output with its oracle's. Also prove the
    comparison rejects the oracle's own rows with one value altered and
    with one row dropped. Returns (problems, failed proofs)."""
    e = canonical(expected)
    problems = _compare(name, canonical(actual), e)
    if expected.empty:
        return problems, [f"{name}: oracle is empty on these inputs, so the check proves nothing"]
    proofs = []
    if not _compare(name, canonical(_altered(expected)), e):
        proofs.append(f"{name}: check accepted an altered row")
    if not _compare(name, e.iloc[1:].reset_index(drop=True), e):
        proofs.append(f"{name}: check accepted a dropped row")
    return problems, proofs


# ----------------------------------------------------------------- lakehouse


def lakehouse_model(plan: dict, skip_batch: int | None = None) -> dict:
    """Replay the CDC plan outside Spark: the table after every commit
    and each commit's expected change counts. ``skip_batch`` leaves one
    merge batch out (used only to prove the checks can fail)."""
    live = dict(plan["base"])
    commits = []
    for i, batch in enumerate(plan["batches"]):
        if i == skip_batch:
            continue
        counts = {"insert": 0, "delete": 0, "update_preimage": 0, "update_postimage": 0}
        for k, op, name, amount in batch:
            if op == "D":
                counts["delete"] += 1
                del live[k]
            elif k in live:
                counts["update_preimage"] += 1
                counts["update_postimage"] += 1
                live[k] = (name, amount)
            else:
                counts["insert"] += 1
                live[k] = (name, amount)
        commits.append(counts)
    for k, name, amount in plan["append"]:
        live[k] = (name, amount)
    commits.append({"insert": len(plan["append"])})
    gone = [k for k in plan["deletes"] if k in live]
    for k in gone:
        del live[k]
    commits.append({"delete": len(gone)})
    return {"table": live, "commits": commits}


def check_snapshot(name: str, snap: pd.DataFrame, table: dict) -> list[str]:
    got = sorted(zip(snap["id"].tolist(), snap["name"].tolist(), snap["amount"].tolist()))
    want = sorted((k, n, a) for k, (n, a) in table.items())
    if got != want:
        extra = set(got) - set(want)
        missing = set(want) - set(got)
        return [
            f"{name}: {len(got)} rows vs model {len(want)}; "
            f"{len(extra)} unexpected, {len(missing)} missing"
        ]
    return []


def check_change_feed(feed: pd.DataFrame, commits: list[dict], first_version: int) -> list[str]:
    got = (
        feed.groupby(["_commit_version", "_change_type"]).size().to_dict()
        if len(feed)
        else {}
    )
    want = {
        (first_version + i, t): n
        for i, c in enumerate(commits)
        for t, n in c.items()
        if n
    }
    got = {(int(v), t): int(n) for (v, t), n in got.items()}
    if got != want:
        return [f"change feed per-commit counts {sorted(got.items())} != model {sorted(want.items())}"]
    return []


def scan_data_files(table_dir: str) -> set[str]:
    """Every parquet data file under a table directory, by path
    relative to it: what a directory listing finds."""
    out = set()
    for dirpath, _, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                out.add(os.path.relpath(os.path.join(dirpath, f), table_dir))
    return out


def footer_rows(table_dir: str, files) -> dict[str, int]:
    """Row count of each data file, read from its own parquet footer."""
    import pyarrow.parquet as pq

    return {r: pq.ParquetFile(os.path.join(table_dir, r)).metadata.num_rows for r in files}


def check_vacuum(scanned: set[str], live: dict[str, dict], on_disk_rows: dict[str, int]) -> list[str]:
    """After vacuum, the data files on disk are exactly the live files
    the commit log lists, and each holds the rows the log records."""
    problems = []
    if scanned != set(live):
        problems.append(
            f"vacuum: {len(scanned - set(live))} data files on disk the log does not list, "
            f"{len(set(live) - scanned)} listed files missing"
        )
    logged = {r: s.get("rows") for r, s in live.items()}
    wrong = {r for r in logged if r in on_disk_rows and logged[r] != on_disk_rows[r]}
    if wrong:
        problems.append(f"vacuum: {len(wrong)} live files whose footer rows differ from the log's")
    return problems


def frame_table(snap: pd.DataFrame) -> dict:
    return {k: (n, a) for k, n, a in zip(snap["id"], snap["name"], snap["amount"])}


def prove_lakehouse(plan: dict, snap: pd.DataFrame, feed: pd.DataFrame, first_version: int,
                    after: pd.DataFrame, scanned: set[str], live: dict[str, dict],
                    on_disk_rows: dict[str, int]) -> list[str]:
    problems = []
    wrong = lakehouse_model(plan, skip_batch=len(plan["batches"]) - 1)
    if not check_snapshot("snapshot", snap, wrong["table"]):
        problems.append("snapshot check accepted a model with one CDC batch left out")
    if not check_change_feed(feed, wrong["commits"], first_version):
        problems.append("change-feed check accepted a model with one CDC batch left out")
    if not check_snapshot("compaction", after.iloc[1:], frame_table(snap)):
        problems.append("compaction check accepted a snapshot with one row dropped")
    if not check_vacuum(scanned | {"d-orphan/part-0.parquet"}, live, on_disk_rows):
        problems.append("vacuum check accepted an orphaned data file")
    first = sorted(on_disk_rows)[0]
    if not check_vacuum(scanned, live, dict(on_disk_rows, **{first: on_disk_rows[first] - 1})):
        problems.append("vacuum check accepted a live file one row short of the log")
    return problems


def check_tail(tail: pd.DataFrame, plan: dict, append_version: int) -> list[str]:
    """A streaming tail that skips change commits delivers the base rows
    at version 0 and the appended rows at the append's version, each
    exactly once."""
    got = sorted(zip(tail["id"].tolist(), tail["name"].tolist(), tail["amount"].tolist(),
                     tail["_commit_version"].tolist()))
    want = sorted([(k, n, a, 0) for k, (n, a) in plan["base"].items()]
                  + [(k, n, a, append_version) for k, n, a in plan["append"]])
    if got != want:
        return [f"tail: {len(got)} rows delivered vs {len(want)} written by the create and the append; "
                f"{len(set(got) - set(want))} unexpected, {len(set(want) - set(got))} missing"]
    return []


def prove_tail(tail: pd.DataFrame, plan: dict, append_version: int) -> list[str]:
    problems = []
    if not check_tail(pd.concat([tail, tail.iloc[:1]]), plan, append_version):
        problems.append("tail check accepted a row delivered twice")
    if not check_tail(tail, plan, append_version + 1):
        problems.append("tail check accepted the append at the wrong commit version")
    return problems


# ---------------------------------------------------------------- xml ingest


def check_xml(cities: pd.DataFrame, metrics: pd.DataFrame, planted: dict) -> list[str]:
    """CitiesCount and the ingest totals against what the generator
    wrote: lowercase city counts, records, files processed and failed."""
    problems = []
    got = {str(c): int(n) for c, n in zip(cities["City"], cities["Count"])}
    if got != planted["cities"]:
        diff = {c for c in set(got) | set(planted["cities"]) if got.get(c) != planted["cities"].get(c)}
        problems.append(f"cities_count: {len(diff)} cities differ from the generator's, "
                        f"e.g. {sorted(diff)[:3]}")
    want = {"records": planted["records"], "files_processed": planted["files"],
            "files_failed": planted["failed"]}
    row = metrics.iloc[0] if len(metrics) == 1 else None
    have = {k: int(row[k]) for k in want} if row is not None else None
    if have != want:
        problems.append(f"ingest_metrics: {have} != generator's {want}")
    return problems


def prove_xml(cities: pd.DataFrame, metrics: pd.DataFrame, planted: dict) -> list[str]:
    problems = []
    miscounted = cities.copy()
    miscounted.loc[miscounted.index[0], "Count"] += 1
    if not check_xml(miscounted, metrics, planted):
        problems.append("xml check accepted a miscounted city")
    short = metrics.copy()
    short.loc[short.index[0], "files_failed"] -= 1
    if not check_xml(cities, short, planted):
        problems.append("xml check accepted a wrong failed-file total")
    return problems

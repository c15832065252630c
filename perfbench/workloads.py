"""Workload definitions: which operations a run makes, and how each
operation's output is checked.

An operation is either one catalog entry (``QuerySpec.fn`` plus a ``noop``
write) or one CLI command (``cli.main(argv)`` through its sink). Each
workload's operation set is fixed, so runs with different seeds measure the
same work; the run's seed sets the order of every pass and the seeded CLI
inputs (the walked team).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "catalog" or "cli"
    sf: float
    entries: tuple[str, ...] = ()

    @property
    def sf_name(self) -> str:
        return f"sf{self.sf:g}"


WORKLOADS: dict[str, Workload] = {
    # g5_kcore_peel is the catalog's top entry by job count (27 at sf0.1),
    # one of the ROADMAP's driver-floor targets. The others each come from
    # another tools/check.py lane (dedup, streaming, multimodal: the pandas
    # UDF lane), among the lane's cheaper and steadier entries, so a warm
    # pass takes about four seconds on 4 cores and a run samples each entry
    # three to five times.
    "interactive-sf0.1": Workload(
        name="interactive-sf0.1",
        kind="catalog",
        sf=0.1,
        entries=(
            "g5_kcore_peel",
            "d4_content_hash_dedup",
            "s1_stream_ingest_counts",
            "mm_decode_features",
        ),
    ),
    "land-sf0.01": Workload(name="land-sf0.01", kind="cli", sf=0.01),
}


# ---------------------------------------------------------------------------
# CLI commands
# ---------------------------------------------------------------------------

TEAMS = (
    "ATL BOS BKN CHA CHI CLE DAL DEN DET GSW HOU IND LAC LAL MEM MIA MIL MIN "
    "NOP NYK OKC ORL PHI PHX POR SAC SAS TOR UTA WAS"
).split()
DATE = "2026-02-01"
RUN_TS = "20260201_120000"


@dataclass
class CliOp:
    name: str
    argv: list[str]  # without --output / --cpus
    expect: Callable[[set[str]], list[str]]

    def full_argv(self, out: str, cpus: int) -> list[str]:
        return [*self.argv, "--output", out, "--cpus", str(cpus)]


def _exact(expected: set[str]):
    def check(rels: set[str]) -> list[str]:
        if rels == expected:
            return []
        return [f"files differ: missing={sorted(expected - rels)[:3]} extra={sorted(rels - expected)[:3]}"]

    return check


def _matchup_tree(stems: tuple[str, ...], n_matchups: int = 30):
    """One directory per matchup of the date, one document per prop type."""

    def check(rels: set[str]) -> list[str]:
        dirs: dict[str, set[str]] = {}
        for r in rels:
            d, _, f = r.partition(os.sep)
            dirs.setdefault(d, set()).add(f)
        want = {f"{s}_{RUN_TS}.json" for s in stems}
        problems = []
        if len(dirs) != n_matchups:
            problems.append(f"{len(dirs)} matchup dirs, want {n_matchups}")
        bad = [d for d, fs in dirs.items() if fs != want or not d.startswith(f"{DATE}_")]
        if bad:
            problems.append(f"malformed matchup dirs: {sorted(bad)[:3]}")
        return problems

    return check


def cli_ops(sf_dir: str, seed: int) -> list[CliOp]:
    """The land workload's commands: the team walk (adapter settle loop,
    landing, completeness gate, per-team page tree) and the largest JSON
    tree sink (props, one directory per matchup). Two commands, so a run
    samples each two or three times. The seed picks the walked team; dates
    and stamps are fixed, so every output tree is reproducible byte for
    byte."""
    team = random.Random(seed).choice(TEAMS)
    return [
        CliOp(
            "scrape-teams",
            ["scrape-teams", "--mode", "single", "--team", team,
             "--season", "2026", "--date", DATE, "--sf-dir", sf_dir],
            _exact({
                os.path.join(team, "CLEANINGdaGLASS", f"{stem}_{DATE}.json")
                for stem in ("LINEUPS", "ONOFF", "PLAYERS")
            }),
        ),
        CliOp(
            "props",
            ["props", "--date", DATE, "--prop-type", "both", "--run-ts", RUN_TS,
             "--sf-dir", sf_dir],
            _matchup_tree(("player", "game")),
        ),
    ]


def tree_report(root: str) -> tuple[set[str], int, str, list[str]]:
    """(relative paths, total bytes, content digest, problems) of an output
    tree. Every ``.json`` file must parse; every file must be non-empty."""
    rels: set[str] = set()
    size = 0
    digest = hashlib.sha256()
    problems: list[str] = []
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            rels.add(rel)
            with open(path, "rb") as fh:
                data = fh.read()
            size += len(data)
            digest.update(rel.encode() + b"\0" + hashlib.sha256(data).digest())
            if not data:
                problems.append(f"empty file {rel}")
            elif f.endswith(".json"):
                try:
                    json.loads(data)
                except ValueError as e:
                    problems.append(f"{rel}: not JSON ({e})")
    return rels, size, digest.hexdigest(), problems


"""CLI entry points (cli.py) + reference-layout sink writers (sinks_ref.py):
the migration on-ramp mirroring the reference's argparse surfaces
(unified_nba_scraper.py:356-416, nba_props_scraper.py:877-945,
Cleaning_Glass_Multi.py:716-739) and its literal output trees
(Cleaning_Glass_#1.py:461-495, nba_props_scraper.py:824-872)."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from nba_data_pipeline_spark.cli import (
    TEAM_PAGES,
    TEAMS,
    main,
    parse_teams,
    resolve_team_list,
)
from nba_data_pipeline_spark.sinks_ref import sanitize_component

from .conftest import SF_DIR


# ---------------------------------------------------------------------------
# F6 team-list parse/validate + mode resolution
# ---------------------------------------------------------------------------


def test_parse_teams_all_and_dedupe_and_invalid():
    valid, invalid = parse_teams("ALL")
    assert valid == list(TEAMS) and len(valid) == 30 and invalid == []
    valid, invalid = parse_teams(" det, BKN ,det , xxx,, NOP ")
    assert valid == ["DET", "BKN", "NOP"]
    assert invalid == ["XXX"]


def test_resolve_team_list_modes():
    assert resolve_team_list("all", None, None) == list(TEAMS)
    # retry validates and warn-skips; falls back to the reference default set
    assert resolve_team_list("retry", None, "DET,zzz,BKN") == ["DET", "BKN"]
    assert resolve_team_list("retry", None, None) == [
        "BKN", "CHA", "DEN", "DET", "PHX",
    ]
    # single: --team wins; non-interactive default is DET (the reference's)
    assert resolve_team_list("single", "lal", None) == ["LAL"]
    assert resolve_team_list("single", None, None) == ["DET"]
    # interactive prompt path, injected input
    assert resolve_team_list(
        "single", None, None, interactive=True, input_fn=lambda _: "BOS,MIA"
    ) == ["BOS", "MIA"]
    assert resolve_team_list(
        "single", None, None, interactive=True, input_fn=lambda _: ""
    ) == ["DET"]


def test_resolve_team_list_rejects_unknown_single():
    with pytest.raises(SystemExit):
        resolve_team_list("single", "ZZZ", None)


# ---------------------------------------------------------------------------
# X13 python twin stays in lockstep with the Column fn
# ---------------------------------------------------------------------------


def test_sanitize_component_matches_column_fn(spark):
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.functions.extract import sanitize_filename

    samples = [
        "Pistons at Nets",
        'a<b>c:d"e/f\\g|h?i*j',
        "__lead__and__trail__",
        "x" * 200,
        "plain",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [
        r["c"]
        for r in df.select(sanitize_filename(F.col("s")).alias("c")).collect()
    ]
    assert got == [sanitize_component(s) for s in samples]


# ---------------------------------------------------------------------------
# end-to-end golden runs (in-process main(); the shared session is reused)
# ---------------------------------------------------------------------------


def _relpaths(root: str) -> set[str]:
    out = set()
    for r, _d, files in os.walk(root):
        for f in files:
            out.add(os.path.relpath(os.path.join(r, f), root))
    return out


def _tree_sha256(root: str) -> str:
    """One digest over every file's relative path and bytes: a reordered
    key, a changed indent or a dropped null field anywhere moves it."""
    h = hashlib.sha256()
    for rel in sorted(_relpaths(root)):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


#: Byte-identity pins of the full CLI trees, taken from the staged
#: partitionBy writer these trees were first landed with.
SCRAPE_TEAMS_TREE_SHA256 = (
    "c0e7e780e42c4275d0aebdf7ebc3f85726cf2df0cc287a66e3278947c6e5edae"
)
PROPS_BOTH_TREE_SHA256 = (
    "ef684779de3da1d35c04718b744c66f1f0af939bda9687a7503213b34fc4eca9"
)

PROPS_BOTH_ARGV = [
    "props", "--date", "2026-02-01", "--prop-type", "both",
    "--run-ts", "20260201_120000", "--sf-dir", SF_DIR,
]


def test_scrape_teams_golden_tree(spark, tmp_path):
    out = str(tmp_path / "teams")
    rc = main(
        [
            "scrape-teams", "--mode", "retry", "--teams", "DET,BKN",
            "--season", "2026", "--date", "2026-02-01", "--output", out,
        ]
    )
    assert rc == 0
    expect = {
        os.path.join(t, "CLEANINGdaGLASS", f"{stem}_2026-02-01.json")
        for t in ("DET", "BKN")
        for stem in ("LINEUPS", "ONOFF", "PLAYERS")
    }
    assert _relpaths(out) == expect  # staging removed, nothing extra
    doc = json.load(
        open(os.path.join(out, "DET", "CLEANINGdaGLASS", "PLAYERS_2026-02-01.json"))
    )
    assert [r["row_idx"] for r in doc["rows"]] == list(range(8))
    assert doc["rows"][0]["Player"] == "DET Player 1"
    assert set(doc["rows"][0]) == {"row_idx", "Player", "PTS", "REB", "AST"}
    assert _tree_sha256(out) == SCRAPE_TEAMS_TREE_SHA256

    # rerun replaces in place (the reference's 🔄 Replaced path)
    rc = main(
        [
            "scrape-teams", "--mode", "retry", "--teams", "DET,BKN",
            "--season", "2026", "--date", "2026-02-01", "--output", out,
        ]
    )
    assert rc == 0 and _relpaths(out) == expect


def test_props_golden_tree(spark, tmp_path):
    out = str(tmp_path / "props")
    rc = main([*PROPS_BOTH_ARGV, "--output", out])
    assert rc == 0
    assert _tree_sha256(out) == PROPS_BOTH_TREE_SHA256
    rels = _relpaths(out)
    # 30 deterministic matchups × {player, game}
    assert len(rels) == 60
    sample = os.path.join("2026-02-01_BKN at DET", "player_20260201_120000.json")
    assert sample in rels
    doc = json.load(open(os.path.join(out, sample)))
    assert doc["type"] == "player" and doc["match"] == "BKN at DET"
    assert doc["metadata"]["date"] == "2026-02-01"
    assert doc["metadata"]["source"] == "Hard Rock Bet"
    r0 = doc["rows"][0]
    assert r0["sportsbook"] == "fanduel" and r0["prop_line"] == 1.5
    game = json.load(
        open(os.path.join(out, "2026-02-01_BKN at DET", "game_20260201_120000.json"))
    )
    g0 = game["rows"][0]
    assert g0["spread_team"] == "BKN" and g0["total"] == 201.5


def test_props_both_job_count(spark, tmp_path):
    """Both prop types land in one streamed pass: 5 jobs on a local session,
    where the staged partitionBy writer (one staging write and driver
    re-read per prop type) launched 8."""
    sc = spark.sparkContext
    sc.setJobGroup("test_props_both_job_count", "props --prop-type both")
    try:
        assert main([*PROPS_BOTH_ARGV, "--output", str(tmp_path / "p")]) == 0
        jobs = sc.statusTracker().getJobIdsForGroup("test_props_both_job_count")
    finally:
        sc._jsc.clearJobGroup()
    assert 0 < len(jobs) < 8


def test_leaf_key_null_or_empty_raises(spark, tmp_path):
    """A null or empty key would become a path component; the sink names
    the column and lands nothing."""
    from nba_data_pipeline_spark.sinks_ref import write_team_page_tree

    for bad in (None, ""):
        df = spark.createDataFrame(
            [("DET", "players", 0, 1), (bad, "players", 1, 2)],
            "team string, page string, row_idx int, PTS int",
        )
        out = str(tmp_path / f"t{bad!r}")
        with pytest.raises(ValueError, match="column 'team'"):
            write_team_page_tree(df, out, date_str="2026-02-01")
        assert _relpaths(out) == set()


def test_failing_row_lands_nothing(spark, tmp_path):
    """A row that fails at run time fails the write before any leaf is
    placed — also when only the second of two prop types fails, since every
    envelope shuffle finishes before the first leaf is fetched."""
    from pyspark.sql import functions as F

    from nba_data_pipeline_spark.sinks_ref import (
        write_matchup_tree,
        write_team_page_tree,
    )

    rows = [(f"T{i % 3}", i, i * 10) for i in range(12)]
    good = spark.createDataFrame(rows, "matchup string, row_idx int, v int")
    bad = good.withColumn(
        "v",
        F.when(F.col("row_idx") == 7, F.raise_error(F.lit("row 7 is broken")))
        .otherwise(F.col("v")),
    )
    out = str(tmp_path / "props")
    with pytest.raises(Exception, match="row 7 is broken"):
        write_matchup_tree(
            [("player", good), ("game", bad)], out,
            date_str="2026-02-01", timestamp="20260201_120000",
        )
    assert _relpaths(out) == set()

    pages = bad.select(
        F.col("matchup").alias("team"), F.lit("players").alias("page"),
        "row_idx", "v",
    )
    out = str(tmp_path / "teams")
    with pytest.raises(Exception, match="row 7 is broken"):
        write_team_page_tree(pages, out, date_str="2026-02-01")
    assert _relpaths(out) == set()


def test_props_player_only_writes_half_the_tree(spark, tmp_path):
    out = str(tmp_path / "props_p")
    rc = main(
        [
            "props", "--date", "2026-02-01", "--prop-type", "player",
            "--output", out, "--run-ts", "20260201_120000",
        ]
    )
    assert rc == 0
    rels = _relpaths(out)
    assert len(rels) == 30
    assert all(os.path.basename(p).startswith("player_") for p in rels)


def test_pages_constant_matches_reference_page_map():
    from nba_data_pipeline_spark.sinks_ref import PAGE_FILENAME

    assert set(TEAM_PAGES) == set(PAGE_FILENAME)


# ---------------------------------------------------------------------------
# export (ctg_export_league.py:608-660): credential chain + golden run
# ---------------------------------------------------------------------------


def test_resolve_credentials_chain(tmp_path):
    from nba_data_pipeline_spark.cli import resolve_credentials

    # args win over env
    assert resolve_credentials("a@x", "pw", None, env={"CTG_EMAIL": "e@x"}) == (
        "a@x", "pw",
    )
    # env fills gaps
    assert resolve_credentials(
        None, None, None, env={"CTG_EMAIL": "e@x", "CTG_PASSWORD": "p"}
    ) == ("e@x", "p")
    # config file is the last resort
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps({"credentials": {"email": "c@x", "password": "cp"}}))
    assert resolve_credentials(None, None, str(cfg), env={}) == ("c@x", "cp")
    # placeholders and missing values are rejected with the 3-source message
    for bad in ({"CTG_EMAIL": "YOUR_EMAIL", "CTG_PASSWORD": "x"}, {}):
        with pytest.raises(SystemExit):
            resolve_credentials(None, None, None, env=bad)


def test_export_golden_run(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("CTG_EMAIL", "u@example.com")
    monkeypatch.setenv("CTG_PASSWORD", "pw")
    out = str(tmp_path / "export")
    rc = main(
        [
            "export", "--output", out, "--date", "2026-02-01",
            "--run-ts", "2026-02-01T00:00:00",
        ]
    )
    assert rc == 0
    rels = _relpaths(out)
    # single-table pages: CSV + JSON; multi-table pages: scrape JSON only
    assert rels == {
        "PLAYERS_20260201.csv", "PLAYERS_20260201.json",
        "SUMMARY_20260201.csv", "SUMMARY_20260201.json",
        "FOURFACTORS_20260201.csv", "FOURFACTORS_20260201.json",
        "LINEUPS_20260201.csv", "LINEUPS_20260201.json",
        "SHOTS_20260201.json", "CONTEXT_20260201.json",
        "export_summary.json",
    }
    # SRC7 semantics survived the download lane: BOM/padding stripped
    doc = json.load(open(os.path.join(out, "PLAYERS_20260201.json")))
    assert doc["metadata"]["records"] == 6
    assert set(doc["data"][0]) == {"Team", "MAIN_A", "MAIN_B"}
    assert doc["data"][0]["Team"] in main.__globals__["TEAMS"]
    # fallback path carries the reference's table_scrape marker
    shots = json.load(open(os.path.join(out, "SHOTS_20260201.json")))
    assert shots["metadata"]["method"] == "table_scrape"
    assert {r["table"] for r in shots["data"]} == {"frequency", "accuracy"}
    # SNK6 manifest totals agree
    summary = json.load(open(os.path.join(out, "export_summary.json")))
    assert summary["success_count"] == 6 and summary["failed_count"] == 0
    assert [r["page"] for r in summary["results"]] == [
        "players", "summary", "fourfactors", "shots", "context", "lineups",
    ]


def test_export_requires_credentials(tmp_path, monkeypatch):
    monkeypatch.delenv("CTG_EMAIL", raising=False)
    monkeypatch.delenv("CTG_PASSWORD", raising=False)
    with pytest.raises(SystemExit):
        main(["export", "--output", str(tmp_path / "x")])


# ---------------------------------------------------------------------------
# insights (nba_insights_scraper.py:625-760): F4 selection + SNK3 modes
# ---------------------------------------------------------------------------


def test_insights_combined_golden(spark, tmp_path):
    out = str(tmp_path / "ins_c")
    rc = main(
        ["insights", "--output", out, "--date", "2026-02-01",
         "--save-mode", "combined"]
    )
    assert rc == 0
    assert _relpaths(out) == {"all_insights.json"}
    doc = json.load(open(os.path.join(out, "all_insights.json")))
    assert doc["metadata"]["teams_collected"] == ["All"]
    assert doc["metadata"]["prop_types"] == ["All"]
    assert doc["metadata"]["total_insights"] == len(doc["insights"])
    r0 = doc["insights"][0]
    assert set(r0) >= {
        "row_idx", "player_team", "opponent_team", "insight_type",
        "outcome", "prop_line", "prop_type", "insight_id",
    }


def test_insights_by_team_selection(spark, tmp_path):
    out = str(tmp_path / "ins_t")
    rc = main(
        ["insights", "--teams", "DET,BKN,zzz", "--insight-types", "Player",
         "--prop-types", "Points,Assists", "--save-mode", "by_team",
         "--output", out, "--date", "2026-02-01"]
    )
    assert rc == 0
    for rel in _relpaths(out):
        assert os.path.basename(rel) == "insights.json"
        doc = json.load(open(os.path.join(out, rel)))
        team = os.path.dirname(rel)
        assert doc["metadata"]["teams_collected"] == [team]
        assert doc["metadata"]["total_insights"] == len(doc["insights"])
        for i in doc["insights"]:
            # F4: (team OR opponent) AND insight-type AND prop substring
            assert i["player_team"] == team
            assert i["player_team"] in ("DET", "BKN") or i[
                "opponent_team"
            ] in ("DET", "BKN")
            assert i["insight_type"] == "Player"
            pt = i.get("prop_type")
            assert pt is None or any(
                s in pt.lower() for s in ("point", "assist")
            )


def test_insights_rejects_unknown_insight_type(tmp_path):
    with pytest.raises(SystemExit):
        main(["insights", "--insight-types", "Bogus",
              "--output", str(tmp_path / "x")])


# ---------------------------------------------------------------------------
# bref — the Basketball-Reference family front door
# (Basketball_Refrence_single_team.py:25-31, Basketball_Refrence_alltables.py
# :39-60, get_basketball_stats_all_teams_Version6.py:294-335)
# ---------------------------------------------------------------------------


def test_parse_bref_teams_aliases_and_all():
    from nba_data_pipeline_spark.cli import BREF_TEAMS, parse_bref_teams

    valid, invalid = parse_bref_teams("ALL")
    assert valid == list(BREF_TEAMS) and len(valid) == 30 and invalid == []
    # league-code aliases fold to BR codes; unknowns warn-skip; dedupe
    valid, invalid = parse_bref_teams(" bkn, CHA ,BRK , phx, zzz ")
    assert valid == ["BRK", "CHO", "PHO"]
    assert invalid == ["ZZZ"]


def test_bref_golden_tree(spark, tmp_path):
    out = str(tmp_path / "bref")
    rc = main(["bref", "DET,BKN", "2026", "--output", out, "--cpus", "4"])
    assert rc == 0
    assert _relpaths(out) == {
        os.path.join(t, f"{t}_2026_NBA_Stats.json") for t in ("DET", "BRK")
    }
    doc = json.load(open(os.path.join(out, "DET", "DET_2026_NBA_Stats.json")))
    # document keys in the reference's walk order; Advanced came from the
    # COMMENT-embedded table (SRC2 through the CLI lane)
    assert list(doc) == ["Roster", "per_game_stats", "Advanced"]
    # F1: the in-band repeated header row is gone (8 data rows, not 9)
    assert len(doc["Roster"]) == 8
    assert all(r["Player"] != "Player" for r in doc["Roster"])
    # X15: birth dates re-shaped m/d/Y; X14: 'us US' fixed up
    assert all(
        len(r["Birth_Date"].split("/")) == 3 for r in doc["Roster"]
    )
    assert {r["Birth"] for r in doc["Roster"]} == {"US"}
    # N2 canonical renames with %→_pct (eFG% must win over FG%)
    pg = doc["per_game_stats"][0]
    assert {"Player", "G", "FG_pct", "eFG_pct", "PTS"} <= set(pg)
    # X17: stat columns coerced to numbers, Player stayed a string
    assert isinstance(pg["PTS"], float) and isinstance(pg["G"], float)
    assert isinstance(pg["Player"], str)
    adv = doc["Advanced"][0]
    assert {"PER", "USG_pct", "WS"} <= set(adv)


def test_bref_skip_if_exists_then_overwrite(spark, tmp_path):
    out = str(tmp_path / "bref")
    assert main(["bref", "DET", "2026", "--output", out, "--cpus", "4"]) == 0
    path = os.path.join(out, "DET", "DET_2026_NBA_Stats.json")
    # ns-resolution stats + an inode/content probe: on filesystems with
    # coarse mtime granularity a fast rerun can land inside one tick, so
    # "replaced" is asserted via a sentinel mutation, not mtime ordering
    first_ns = os.stat(path).st_mtime_ns
    with open(path, "a", encoding="utf-8") as f:
        f.write("\n")
    sentinel_size = os.stat(path).st_size
    # F8: rerun without --overwrite leaves the document untouched
    assert main(["bref", "DET", "2026", "--output", out, "--cpus", "4"]) == 0
    assert os.stat(path).st_size == sentinel_size
    # --overwrite replaces it (sentinel trailing newline rewritten away)
    assert main(
        ["bref", "DET", "2026", "--output", out, "--overwrite", "--cpus", "4"]
    ) == 0
    assert os.stat(path).st_size != sentinel_size
    assert os.stat(path).st_mtime_ns >= first_ns


def test_bref_header_sep(spark, tmp_path):
    out = str(tmp_path / "bref")
    rc = main(["bref", "DET", "2026", "--header-sep", ".",
               "--output", out, "--cpus", "4"])
    assert rc == 0
    doc = json.load(open(os.path.join(out, "DET", "DET_2026_NBA_Stats.json")))
    # whitespace in raw headers joins with the chosen separator
    assert "Birth.Date" in doc["Roster"][0]


# ---------------------------------------------------------------------------
# dvp — the DEFENSEVSPOSTION.PY front door (5x4 matrix walk, retry/backoff,
# all-or-nothing gate, combined nested document)
# ---------------------------------------------------------------------------


def test_dvp_golden_tree(spark, tmp_path):
    out = str(tmp_path / "dvp")
    rc = main([
        "dvp", "--output", out,
        "--scraped-at", "2026-08-16T00:00:00", "--cpus", "4",
    ])
    assert rc == 0
    doc = json.load(open(os.path.join(out, "defense_vs_position_all.json")))
    # reference envelope (DEFENSEVSPOSTION.PY:544-572)
    assert doc["metadata"]["source"] == "bettingpros.com"
    assert doc["metadata"]["scraped_at"] == "2026-08-16T00:00:00"
    assert doc["metadata"]["positions"] == ["PG", "SG", "SF", "PF", "C"]
    assert doc["metadata"]["timeframes"] == [
        "2025-26", "Last 7", "Last 15", "Last 30"
    ]
    assert doc["metadata"]["total_teams"] == 30
    assert list(doc["data"].keys()) == ["PG", "SG", "SF", "PF", "C"]
    total = 0
    for pos, cells in doc["data"].items():
        assert list(cells.keys()) == ["2025-26", "Last 7", "Last 15", "Last 30"]
        for tf, rows in cells.items():
            assert len(rows) == 30
            total += len(rows)
            teams = [r["Team"] for r in rows]
            assert len(set(teams)) == 30
            # the ordinal LA rule: first DOM 'Los Angeles' -> Lakers
            assert teams.index("LA Lakers") < teams.index("LA Clippers")
            # reference row keys, in to_json_obj order (:142-152)
            assert list(rows[0].keys()) == [
                "Team", "Position", "Timeframe",
                "PTS", "REB", "AST", "3PM", "STL", "BLK", "TO",
            ]
            assert all(
                r["Position"] == pos and r["Timeframe"] == tf for r in rows
            )
            # stats stay strings, like the reference keeps them (:126-152)
            assert all(isinstance(r["PTS"], str) for r in rows)
    assert total == 600


def test_dvp_matrix_walk_retries_then_succeeds():
    """The per-cell retry loop (DEFENSEVSPOSTION.PY:633-661): a cell whose
    first attempt never readies is retried with backoff and succeeds when
    the page finally renders; a permanently-bad cell raises after
    max_retries."""
    from nba_data_pipeline_spark.adapters.browser_ingest import ScriptedSession
    from nba_data_pipeline_spark.operators.dvp import dvp_matrix_walk

    hdr = "<tr>" + "".join(
        f"<th>{h}</th>"
        for h in ("Team", "PTS", "REB", "AST", "3PM", "STL", "BLK", "TO")
    ) + "</tr>"
    good = (
        f"<table>{hdr}<tr><td>Atlanta</td>"
        + "<td>1</td>" * 7 + "</tr></table>"
    )
    bad = "<html><body>loading...</body></html>"

    class FakeClock:
        def __init__(self):
            self.t = 0.0

        def __call__(self):
            return self.t

        def sleep(self, dt):
            self.t += dt

    url = "https://dvp.example/x#PG-Last_7"
    clock = FakeClock()
    session = ScriptedSession({url: [bad] * 6 + [good]})
    sleeps: list[float] = []

    def sleep(dt):
        sleeps.append(dt)
        clock.sleep(dt)

    got = list(
        dvp_matrix_walk(
            session, "https://dvp.example/x",
            positions=("PG",), timeframes=("Last 7",),
            max_retries=4, timeout_s=1.0, poll_s=0.2, stable_s=0.6,
            clock=clock, sleep=sleep,
        )
    )
    assert [(p, t) for p, t, _ in got] == [("PG", "Last 7")]
    assert "Atlanta" in got[0][2]
    # attempt 1 timed out, so exactly one 0.6s backoff fired (:652-655)
    assert 0.6 in sleeps

    # permanently bad -> RuntimeError naming the cell, after max_retries
    clock2 = FakeClock()
    session2 = ScriptedSession({url: bad})
    with pytest.raises(RuntimeError, match="PG - Last 7 after 2"):
        list(
            dvp_matrix_walk(
                session2, "https://dvp.example/x",
                positions=("PG",), timeframes=("Last 7",),
                max_retries=2, timeout_s=1.0, poll_s=0.2, stable_s=0.6,
                clock=clock2, sleep=clock2.sleep,
            )
        )


def test_validate_dvp_rows_gate(spark):
    """All-or-nothing (DEFENSEVSPOSTION.PY:524-541): a cell missing one
    team, a missing cell, or an unresolved name each hard-fail."""
    from nba_data_pipeline_spark.operators.dvp import (
        DVP_CANONICAL_TEAMS,
        validate_dvp_rows,
    )
    from nba_data_pipeline_spark.operators.gates import CompletenessError

    full = [
        (p, t, team)
        for p in ("PG", "SG", "SF", "PF", "C")
        for t in ("2025-26", "Last 7", "Last 15", "Last 30")
        for team in DVP_CANONICAL_TEAMS
    ]
    ok_df = spark.createDataFrame(
        full, "position string, timeframe string, team string"
    )
    validate_dvp_rows(ok_df)  # passes

    missing_team = spark.createDataFrame(
        [r for r in full if r != ("PG", "Last 7", "Utah")],
        "position string, timeframe string, team string",
    )
    with pytest.raises(CompletenessError, match="teams per cell"):
        validate_dvp_rows(missing_team)

    missing_cell = spark.createDataFrame(
        [r for r in full if (r[0], r[1]) != ("C", "Last 30")],
        "position string, timeframe string, team string",
    )
    with pytest.raises(CompletenessError):
        validate_dvp_rows(missing_cell)

    unresolved = spark.createDataFrame(
        [("PG", "Last 7", "SEATTLE") if r == ("PG", "Last 7", "Utah") else r
         for r in full],
        "position string, timeframe string, team string",
    )
    with pytest.raises(CompletenessError, match="unrecognized"):
        validate_dvp_rows(unresolved)


# ---------------------------------------------------------------------------
# prompts — the Hard Rock LLM-analysis lane (hardrock_scraper.py:453-506)
# ---------------------------------------------------------------------------


def test_prompts_golden_tree(spark, tmp_path):
    out = str(tmp_path / "prompts")
    rc = main([
        "prompts", "--date", "2026-02-01", "--prop-type", "both",
        "--output", out, "--run-ts", "20260201_120000",
    ])
    assert rc == 0
    rels = _relpaths(out)
    assert len(rels) == 60  # 30 matchups x {player_props, game_props}
    sample = os.path.join(
        "2026-02-01_BKN at DET", "player_props_20260201_120000.json"
    )
    assert sample in rels
    doc = json.load(open(os.path.join(out, sample)))
    # format_for_llm envelope (:455-466)
    assert list(doc.keys()) == ["metadata", "data", "analysis_prompt"]
    assert doc["metadata"]["source"] == "Hard Rock Bet"
    assert doc["metadata"]["match"] == "BKN at DET"
    assert doc["metadata"]["scraped_at"] == "20260201_120000"
    assert doc["data"]["type"] == "player_props"
    assert doc["data"]["rows"], "data payload must carry the prop rows"
    # the per-type prompt (:468-505) is the reference template VERBATIM:
    # leading newline, numbered identify list, Consider: section,
    # json.dumps(data, indent=2) tail, trailing newline
    p = doc["analysis_prompt"]
    assert p.startswith(
        "\nAnalyze the following player props data for BKN at DET:\n"
    )
    assert "This data contains player proposition bets scraped from Hard Rock Bet.\n" in p
    assert "For each player, identify:\n1. The statistical category (points, rebounds, assists, etc.)\n" in p
    assert "\nConsider:\n- Which props appear to offer positive expected value?\n" in p
    assert p.endswith("\n")
    # the embedded JSON is byte-for-byte json.dumps(data, indent=2) of the
    # SAME dict stored in the envelope's data field (reference :486, :505)
    embedded_text = p.split("Data:\n", 1)[1].rstrip("\n")
    assert embedded_text == json.dumps(doc["data"], indent=2)
    game = json.load(
        open(os.path.join(out, "2026-02-01_BKN at DET",
                          "game_props_20260201_120000.json"))
    )
    gp = game["analysis_prompt"]
    assert gp.startswith(
        "\nAnalyze the following game odds data for BKN at DET:\n"
    )
    assert "This data contains game-level betting markets scraped from Hard Rock Bet.\n" in gp
    assert "Identify:\n1. Moneyline odds for each team\n" in gp
    assert "\nConsider:\n- Implied probability from the odds\n" in gp
    assert game["data"]["type"] == "game_props"


def test_prompts_player_only(spark, tmp_path):
    out = str(tmp_path / "prompts_p")
    rc = main([
        "prompts", "--date", "2026-02-01", "--prop-type", "player",
        "--output", out, "--run-ts", "20260201_120000",
    ])
    assert rc == 0
    rels = _relpaths(out)
    assert len(rels) == 30
    assert all(os.path.basename(p).startswith("player_props_") for p in rels)

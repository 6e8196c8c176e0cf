"""Analysis-tier validation sweep: transpile every reference SQL
statement and run it against a SHADOW CATALOG so Spark's analyzer
(not just its parser) validates table/column/function resolution and
type checking end-to-end.

How the shadow catalog is built (no reference data exists here --
only the SQL text):

1.  Every transpiled CREATE (DDL / CTAS / VIEW) and INSERT executes
    for real against empty tables, in file order, iterated until a
    fixed point so cross-file dependencies converge (the marts read
    tables their upstream files create).
2.  Raw-source tables the corpus never creates (stg_*, s3_spectrum_*,
    public.dim_dates, ...) are REPAIRED on demand: a
    TABLE_OR_VIEW_NOT_FOUND error creates the table in its schema
    with a single placeholder column; UNRESOLVED_COLUMN errors then
    add the referenced columns (STRING) one by one via ALTER TABLE
    ADD COLUMNS. Spark's non-ANSI implicit casts make STRING a
    workable universal type for resolution purposes.
3.  Template holes survive as session VARIABLES
    (``__jinja_param__`` / ``__param_*__`` -- declared up front), so
    Jinja-parameterized statements analyze like any other; holes used
    as table identifiers cannot resolve and are classified as
    template-limited instead of repaired.

Statement handling: CREATE/DROP/INSERT/TRUNCATE/REFRESH/SET execute;
SELECT/WITH run analysis only (``spark.sql`` builds the analyzed
plan lazily -- we force ``queryExecution().analyzed``); MERGE (the
transpiled UPDATE...FROM / DELETE...USING forms) analyzes until
Spark's v1-table boundary -- "MERGE INTO TABLE is not supported
temporarily" means resolution SUCCEEDED and only the table format
(v1 parquet vs Delta/Iceberg) blocks execution, counted as its own
tier, consistent with the engine's txlog story (sources/txlog.py).

Writes ANALYZE_COVERAGE.json.
Usage: python tools/analyze_reference.py [ref_dir] [out_json]
"""
from __future__ import annotations

import json
import pathlib
import re
import shutil
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import time  # noqa: E402

from etl_pipelines_spark.compat import transpile  # noqa: E402
from etl_pipelines_spark.compat.transpile import (  # noqa: E402
    TranspileError,
    inline_lateral_alias_scoped,
    lateral_alias_candidates,
    rename_lateral_def,
    install,
    split_statements,
    tokenize,
    _is_sig,
)

_SKIP_HEADS = {
    "GRANT", "REVOKE", "VACUUM", "ANALYZE", "COMMIT", "BEGIN", "END",
    "ROLLBACK", "UNLOAD", "COPY", "CALL", "ALTER",
}
_EXEC_HEADS = {"CREATE", "DROP", "INSERT", "TRUNCATE", "REFRESH", "SET"}

_MISSING_RE = re.compile(
    r"TABLE_OR_VIEW_NOT_FOUND[^`]*`([^`]+(?:`\.`[^`]+)*)`"
)
_UNRESOLVED_RE = re.compile(
    r"UNRESOLVED_COLUMN[^`]*`([^`]+(?:`\.`[^`]+)*)`"
)
# a lateral alias inside a window expression means the BASE column is
# missing from a repair table (the real warehouse resolves the base
# column first, exactly like Snowflake's QUALIFY scoping) -- so it is
# a column-repair signal, not a rewrite defect
_LATERAL_RE = re.compile(
    r"LATERAL_COLUMN_ALIAS_IN_WINDOW[^`]*`([^`]+(?:`\.`[^`]+)*)`"
)
# the alias name Spark resolved laterally, for the inline fallback
# (r10, VERDICT r9 #6): fires on all three _IN_WINDOW / _IN_GROUP_BY
# / _IN_AGGREGATE_FUNC variants when the column repair above cannot
# (the relation is a CTE, a subquery, or a corpus-built table — the
# alias is genuinely a computed lateral reference there, and Redshift
# documents it as macro expansion of the aliased expression)
_LATALIAS_NAME_RE = re.compile(
    r"(?i)lateral column alias[^`]*`([^`]+)`"
)
# [UNRESOLVED_USING_COLUMN_FOR_JOIN] USING column `x` cannot be
# resolved on the left/right side of the join. The <side>-side
# columns: [...]
_USING_RE = re.compile(
    r"UNRESOLVED_USING_COLUMN_FOR_JOIN[^`]*`([^`]+)`.*?"
    r"on the (left|right) side",
    re.S,
)
_ARITY_RE = re.compile(
    r"TOO_MANY_DATA_COLUMNS[^`]*`([^`]+(?:`\.`[^`]+)*)`.*?"
    r"table columns: (.*?)\.\s*data columns: (.*?)\.",
    re.S,
)
# [AMBIGUOUS_REFERENCE] Reference `c` is ambiguous, could be:
# [`db`.`tbl`.`c`, `alias`.`c`, ...]
_AMBIG_RE = re.compile(
    r"AMBIGUOUS_REFERENCE[^`]*`([^`]+)`.*?could be:\s*\[(.*?)\]", re.S
)
_AMBIG_CAND_RE = re.compile(r"((?:`[^`]+`\.)*`[^`]+`)")
_PLACEHOLDER_RE = re.compile(r"__(?:jinja_param|param_\w+)__")


def _stmt_head(stmt: str) -> str:
    for tok in tokenize(stmt):
        if _is_sig(tok) and tok.kind == "word":
            return tok.text.upper()
    return ""


def _err_code(e: Exception) -> str:
    s = str(e).strip()
    # r12: a dead JVM gateway is an ENVIRONMENT failure, not a
    # statement error — the r11 sweep churned 1,798 pending
    # statements (and 11k+ phantom "ambiguity drops") against a
    # dead gateway for the rest of the run. Abort immediately; the
    # per-checkpoint partial artifact is the landable state.
    if (
        "Connection refused" in s
        or "Answer from Java side is empty" in s
        or "Py4JNetworkError" in type(e).__name__
    ):
        raise SystemExit(
            "analyzer sweep: Spark JVM gateway died "
            f"({s.splitlines()[0][:120]}); aborting — land the "
            ".partial.json checkpoint and relaunch"
        )
    m = re.match(r"\[([A-Z_.0-9]+)\]", s)
    return m.group(1) if m else s.splitlines()[0][:60]


def _inferred_columns(stmt_text: str, db: str, tbl: str) -> list[str]:
    """Columns a statement provably reads from `db.tbl`: every
    ``alias.col`` reference whose alias binds to that relation in the
    FROM/JOIN text, plus direct ``tbl.col`` references. Inference
    keeps the repair loop to ~one round per table instead of one
    ALTER per column."""
    low = stmt_text.lower()
    aliases = {tbl}
    for m in re.finditer(
        r"(?:\b" + re.escape(db) + r"\s*\.\s*)?\b" + re.escape(tbl)
        + r"\b\s+(?:as\s+)?([a-z_][\w]*)",
        low,
    ):
        a = m.group(1)
        if a not in (
            "on", "where", "group", "order", "left", "right", "inner",
            "join", "full", "cross", "using", "set", "as", "qualify",
            "union", "limit", "having", "when", "then",
        ):
            aliases.add(a)
    cols: set[str] = set()
    for a in aliases:
        for m in re.finditer(
            r"\b" + re.escape(a) + r"\s*\.\s*([a-z_][\w]*)", low
        ):
            cols.add(m.group(1))
    return sorted(cols)


def _hint_columns(stmt: str) -> tuple[str | None, list[str], str] | None:
    """Schema hint from a RAW (possibly source-invalid) statement:
    ``CREATE TABLE t (coldefs)`` or ``INSERT INTO t (collist)`` →
    (qualified_name, [col, ...], via). Lexical only — the statements
    this serves FAILED transpile (the corpus's 150 source-invalid
    creators), so the transpiled form never executes and the shadow
    catalog would otherwise have no schema for their tables; their
    column lists are still perfectly readable."""
    m = re.match(
        r"(?is)\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)"
        r"\s*\(",
        stmt,
    )
    via = "create-column-defs"
    if not m:
        m = re.match(
            r"(?is)\s*INSERT\s+INTO\s+"
            r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)\s*\(",
            stmt,
        )
        via = "insert-column-list"
    if not m:
        return None
    name = re.sub(r"\s", "", m.group(1)).lower()
    # slice the parenthesized list: depth scan from the open paren
    i = m.end() - 1
    depth = 0
    for j in range(i, len(stmt)):
        if stmt[j] == "(":
            depth += 1
        elif stmt[j] == ")":
            depth -= 1
            if depth == 0:
                break
    else:
        return None
    body = stmt[i + 1 : j]
    cols: list[str] = []
    skip = {
        "primary", "unique", "constraint", "foreign", "check",
        "like", "distkey", "sortkey", "interleaved", "compound",
    }
    d = 0
    group_start = 0
    groups: list[str] = []
    for k, ch in enumerate(body):
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        elif ch == "," and d == 0:
            groups.append(body[group_start:k])
            group_start = k + 1
    groups.append(body[group_start:])
    for g in groups:
        w = re.match(r'\s*(?:"([^"]+)"|([A-Za-z_][\w]*))', g)
        if not w:
            continue
        c = (w.group(1) or w.group(2)).strip()
        if c.lower() in skip or _PLACEHOLDER_RE.fullmatch(c):
            continue
        cols.append(c)
    if via == "insert-column-list" and not cols:
        return None
    return name if "." in name else f"default.{name}", cols, via


class Shadow:
    def __init__(self, spark):
        self.spark = spark
        self.repaired_tables: set[str] = set()
        self.repaired_cols = 0
        # key -> [col, ...] lexically lifted from source-invalid
        # creators (CREATE column defs / INSERT column lists)
        self.schema_hints: dict[str, tuple[list[str], str, str]] = {}
        # key -> provenance of each synthesized table
        self.provenance: dict[str, dict] = {}
        # (key, col) -> 'qualified' | 'bare': how a column arrived.
        # A qualified arrival (alias.col / creator hint) is evidence
        # the real table has it; a bare arrival is a guess that the
        # ambiguity repair may retract.
        self.col_prov: dict[tuple[str, str], str] = {}
        # (key, col) drops already performed -- loop guard
        self.dropped: set[tuple[str, str]] = set()
        # (key, col) -> committed retype (typed-shim tier, r11)
        self.retyped: dict[tuple[str, str], str] = {}
        self.n_retypes = 0
        # (col, candidate-tables) -> next candidate index for the
        # BARE-column placement rotation (r11): the first-in-FROM
        # guess is verified by the caller's retry loop — when the
        # same bare column comes back unresolved, the guess is
        # retracted and the NEXT table in scope tried, instead of
        # sticking with a wrong first guess forever (the r9→r10
        # UNRESOLVED_COLUMN ~917 bucket is dominated by wrong
        # single guesses that the ambiguity repair never got
        # evidence to correct).
        self.bare_state: dict[tuple, int] = {}
        self.n_ambiguity_drops = 0
        # key -> schema rebuilds performed (insert-select-schema)
        self.rebuild_counts: dict[str, int] = {}
        # clone target -> LIKE source (CREATE TABLE x (LIKE y) in the
        # raw corpus; transpiled to an empty CTAS in sweep mode)
        self.like_map: dict[str, str] = {}

    def ensure_db(self, name: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{name}`")

    def _existing_cols(self, db: str, tbl: str) -> set[str]:
        return {
            r.col_name.lower()
            for r in self.spark.sql(
                f"DESCRIBE TABLE `{db}`.`{tbl}`"
            ).collect()
            if r.col_name and not r.col_name.startswith("#")
        }

    def _alter_add(
        self, db: str, tbl: str, cols: list[str], prov: str = "qualified"
    ) -> bool:
        try:
            existing = self._existing_cols(db, tbl)
        except Exception:  # noqa: BLE001  (a corpus DROP removed the
            # repair table after creation)
            return False
        new = [
            c for c in set(cols) - existing
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_ ]*", c)
            and not _PLACEHOLDER_RE.fullmatch(c)
        ]
        if not new:
            return False
        ddl = ", ".join(f"`{c}` STRING" for c in sorted(new))
        try:
            self.spark.sql(
                f"ALTER TABLE `{db}`.`{tbl}` ADD COLUMNS ({ddl})"
            )
            self.repaired_cols += len(new)
            key = f"{db}.{tbl}".lower()
            for c in new:
                self.col_prov[(key, c.lower())] = prov
            return True
        except Exception:  # noqa: BLE001
            return False

    def create_missing(self, qname: str, stmt_text: str = "") -> bool:
        parts = [p.strip("`") for p in qname.replace("`.`", "\x00").split("\x00")]
        if len(parts) == 1:
            db, tbl = "default", parts[0]
        elif len(parts) == 2:
            db, tbl = parts
        else:
            db, tbl = parts[-2], parts[-1]
        if _PLACEHOLDER_RE.fullmatch(tbl):
            return False  # a template hole in table position
        key = f"{db}.{tbl}".lower()
        if key in self.repaired_tables:
            return False
        self.ensure_db(db)
        cols = _inferred_columns(stmt_text, db.lower(), tbl.lower())
        via = "consumer-inference"
        hint_file = None
        hint = self.schema_hints.get(key)
        if hint:
            hcols, hvia, hfile = hint
            # creator-declared columns first (real order), then any
            # extra columns the consumer provably reads
            seen = {c.lower() for c in hcols}
            cols = hcols + [c for c in cols if c.lower() not in seen]
            via, hint_file = hvia, hfile
        cols = [
            c for c in cols
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_ ]*", c)
            and not _PLACEHOLDER_RE.fullmatch(c)
        ]
        ddl = ", ".join(f"`{c}` STRING" for c in cols) or "__repair__ STRING"
        try:
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS `{db}`.`{tbl}` "
                f"({ddl}) USING parquet"
            )
        except Exception:  # noqa: BLE001  (e.g. a temp view shadows
            # the default-db name -- Spark NPEs on that collision)
            self.repaired_tables.add(key)  # don't retry forever
            return False
        self.repaired_tables.add(key)
        for c in cols:
            self.col_prov[(key, c.lower())] = "qualified"
        self.provenance[key] = {
            "via": via,
            "n_cols": len(cols),
            **({"source_file": hint_file} if hint_file else {}),
        }
        return True

    def _tables_in_text(self, low: str) -> list[str]:
        """Repair tables mentioned in the statement text, ordered by
        first occurrence (≅ FROM order)."""
        hits = []
        for key in self.repaired_tables:
            pos = low.find(key.split(".", 1)[1])
            if pos >= 0:
                hits.append((pos, key))
        return [k for _p, k in sorted(hits)]

    def add_column(self, qcol: str, stmt_text: str) -> bool:
        """Add the unresolved column (STRING) to the repair-created
        table it belongs to; returns True if any table changed.
        A qualified reference's alias is mapped back to its table via
        the FROM/JOIN text. A bare column goes to exactly ONE repair
        table (first in FROM order): the pre-repair UNRESOLVED error
        proves no in-scope table has it, so a single add resolves the
        statement without minting ambiguity for later bare references
        -- the r8 shotgun (add to every repair table in scope) was
        the dominant source of the 398-statement AMBIGUOUS_REFERENCE
        bucket. A wrong single guess is self-correcting: when the
        column's real home later surfaces via a qualified reference,
        resolve_ambiguous retracts the bare guess."""
        parts = [
            p.strip("`") for p in qcol.replace("`.`", "\x00").split("\x00")
        ]
        col = parts[-1]
        if _PLACEHOLDER_RE.fullmatch(col) or not re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_ ]*", col
        ):
            return False
        low = stmt_text.lower()
        targets: list[str] = []
        prov = "qualified"
        if len(parts) >= 2:
            alias = parts[-2].lower()
            # alias -> relation: "<qualified.name> [as] alias" in text
            for m in re.finditer(
                r"([a-z_][\w]*(?:\s*\.\s*[a-z_][\w]*)?)\s+(?:as\s+)?"
                + re.escape(alias) + r"\b",
                low,
            ):
                rel = re.sub(r"\s", "", m.group(1))
                key = rel if "." in rel else f"default.{rel}"
                if key in self.repaired_tables:
                    targets.append(key)
            if not targets and f"default.{alias}" in self.repaired_tables:
                targets.append(f"default.{alias}")  # alias IS the table
            if not targets:
                for key in self.repaired_tables:
                    if key.split(".", 1)[1] == alias:
                        targets.append(key)
        if not targets:
            in_text = self._tables_in_text(low)
            if in_text:
                k = (col.lower(), tuple(in_text))
                n = self.bare_state.get(k, 0)
                if n >= len(in_text):
                    return False  # every in-scope table tried
                if n > 0 and self.col_prov.get(
                    (in_text[n - 1], col.lower())
                ) == "bare":
                    # previous guess did not resolve the statement
                    # (the caller re-analyzed and the same column is
                    # still unresolved) — retract it before trying
                    # the next table
                    self._rebuild_without(in_text[n - 1], col.lower())
                self.bare_state[k] = n + 1
                targets = [in_text[n]]
                prov = "bare"
        changed = False
        for key in targets:
            db, tbl = key.split(".", 1)
            batch = _inferred_columns(stmt_text, db, tbl)
            if self._alter_add(db, tbl, batch):
                changed = True
            if self._alter_add(db, tbl, [col], prov=prov):
                changed = True
        return changed

    def add_using_column(self, msg: str, stmt_text: str) -> bool:
        """UNRESOLVED_USING_COLUMN_FOR_JOIN repair: the source is
        valid Redshift, so the named USING column exists on BOTH
        sides there — when the erroring side is a repair table, add
        it. r11 ADVICE #3: the old first/last-in-text heuristic
        could repair a table unrelated to the USING join in a
        multi-join statement, with no retraction. Now the USING
        clause naming the column is LOCATED in the statement: its
        JOIN's right operand is the right-side candidate, and every
        relation textually before that JOIN is a left-side
        candidate; candidates are tried one per analysis round with
        bare-guess rotation (a guess that does not resolve the
        statement is retracted before the next is tried)."""
        m = _USING_RE.search(msg)
        if not m:
            return False
        col, side = m.group(1), m.group(2)
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_ ]*", col):
            return False
        low = stmt_text.lower()
        cands: list[str] = []
        # `JOIN <rel> [AS alias] USING (...)` — the gap between the
        # relation and USING may not contain parens or another JOIN
        # (else the match would cross into a neighboring join).
        for jm in re.finditer(
            r"\bjoin\s+([a-z_][\w]*(?:\s*\.\s*[a-z_][\w]*)?)"
            r"(?:(?!\bjoin\b)[^()])*?\busing\s*\(([^)]*)\)",
            low,
        ):
            using_cols = {
                c.strip().strip('`"') for c in jm.group(2).split(",")
            }
            if col.lower() not in using_cols:
                continue
            rel = re.sub(r"\s", "", jm.group(1))
            rkey = rel if "." in rel else f"default.{rel}"
            if side == "right":
                if rkey in self.repaired_tables and rkey not in cands:
                    cands.append(rkey)
            else:
                for k in self._tables_in_text(low[: jm.start()]):
                    if k != rkey and k not in cands:
                        cands.append(k)
        if not cands:
            # no locatable USING clause (e.g. it sits inside a view
            # this statement reads): fall back to FROM-order, but as
            # the last rotation candidate, not a blind commit
            in_text = self._tables_in_text(low)
            if not in_text:
                return False
            cands = [in_text[0] if side == "left" else in_text[-1]]
        state_key = (f"using:{col.lower()}:{side}", tuple(cands))
        n = self.bare_state.get(state_key, 0)
        if n >= len(cands):
            return False  # every candidate tried and retracted
        if n > 0 and self.col_prov.get(
            (cands[n - 1], col.lower())
        ) == "bare":
            self._rebuild_without(cands[n - 1], col.lower())
        self.bare_state[state_key] = n + 1
        db, tbl = cands[n].split(".", 1)
        return self._alter_add(db, tbl, [col], prov="bare")

    def _rebuild_without(self, key: str, col: str) -> bool:
        """Recreate a repair table minus one column (v1 parquet has
        no DROP COLUMNS). All repair columns are STRING, so the
        rebuild is a column-list copy."""
        db, tbl = key.split(".", 1)
        try:
            cols = [
                r.col_name
                for r in self.spark.sql(
                    f"DESCRIBE TABLE `{db}`.`{tbl}`"
                ).collect()
                if r.col_name and not r.col_name.startswith("#")
            ]
        except Exception:  # noqa: BLE001
            return False
        keep = [c for c in cols if c.lower() != col.lower()]
        if len(keep) == len(cols):
            return False
        ddl = ", ".join(f"`{c}` STRING" for c in keep) or "__repair__ STRING"
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{tbl}`")
            self.spark.sql(
                f"CREATE TABLE `{db}`.`{tbl}` ({ddl}) USING parquet"
            )
        except Exception:  # noqa: BLE001
            return False
        self.col_prov.pop((key, col.lower()), None)
        self.dropped.add((key, col.lower()))
        self.n_ambiguity_drops += 1
        if key in self.provenance:
            self.provenance[key]["n_cols"] = len(keep)
        return True

    def resolve_ambiguous(self, msg: str, stmt_text: str) -> bool:
        """AMBIGUOUS_REFERENCE repair: the source is valid Redshift,
        where exactly one in-scope table has the bare column -- so an
        ambiguity among SYNTHESIZED tables means at least one of them
        carries the column as a retractable bare guess. Parse the
        error's candidate list, map each candidate relation to a
        repair table, and rebuild the bare-guess holders without the
        column (keeping one holder when nothing qualified remains)."""
        m = _AMBIG_RE.search(msg)
        if not m:
            return False
        col = m.group(1).split("`.`")[-1].strip("`").lower()
        if not re.fullmatch(r"[a-z_][a-z0-9_ ]*", col):
            return False
        low = stmt_text.lower()
        cand_keys: list[str] = []
        n_outside = 0
        for cm in _AMBIG_CAND_RE.finditer(m.group(2)):
            parts = [p for p in cm.group(1).strip("`").split("`.`")]
            rel = [p.lower() for p in parts[:-1]]  # strip the column
            key = None
            if len(rel) >= 2:
                key = f"{rel[-2]}.{rel[-1]}"
                if key not in self.repaired_tables:
                    key = None
            if key is None and rel:
                alias = rel[-1]
                # alias -> relation via FROM/JOIN text (same mapping
                # as add_column)
                for am in re.finditer(
                    r"([a-z_][\w]*(?:\s*\.\s*[a-z_][\w]*)?)\s+(?:as\s+)?"
                    + re.escape(alias) + r"\b",
                    low,
                ):
                    rk = re.sub(r"\s", "", am.group(1))
                    rk = rk if "." in rk else f"default.{rk}"
                    if rk in self.repaired_tables:
                        key = rk
                        break
                if key is None and f"default.{alias}" in self.repaired_tables:
                    key = f"default.{alias}"
                if key is None:
                    for rk in self.repaired_tables:
                        if rk.split(".", 1)[1] == alias:
                            key = rk
                            break
            if key:
                if key not in cand_keys:
                    cand_keys.append(key)
            else:
                n_outside += 1  # candidate is a corpus-built relation
        holders = [
            k for k in cand_keys
            if (k, col) not in self.dropped
        ]
        if not holders:
            return False
        bare = [
            k for k in holders
            if self.col_prov.get((k, col), "qualified") == "bare"
        ]
        qualified = [k for k in holders if k not in bare]
        if bare:
            # a corpus-built candidate (n_outside) or a qualified
            # synthesized holder outranks every bare guess
            drop = bare if (qualified or n_outside) else bare[1:]
            if not drop:
                return False
        elif len(qualified) > 1:
            # every holder arrived qualified -- the consumer corpus
            # genuinely references col through both tables; keep the
            # first (FROM-order) and retract the rest so THIS valid-
            # Redshift statement can resolve
            order = {k: low.find(k.split(".", 1)[1]) for k in qualified}
            keep = min(qualified, key=lambda k: (order[k], k))
            drop = [k for k in qualified if k != keep]
        elif qualified and n_outside:
            # our synthesized schema collides with a corpus-built
            # table's real column -- the corpus creator is ground
            # truth, retract ours
            drop = qualified
        else:
            return False
        changed = False
        for k in drop:
            if self._rebuild_without(k, col):
                changed = True
        return changed

    def rebuild_to_schema(self, key: str, cols: list[str]) -> bool:
        """Replace a synthesized (or synthesis-derived clone) table's
        schema with the INSERT source query's analyzed output columns
        — the SELECT aliases ARE the real schema when the creator is
        source-invalid or an empty LIKE-clone of a repair table. All
        STRING (non-ANSI implicit casts take the inserted values)."""
        if not cols or any(
            not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_ ]*", c) for c in cols
        ):
            return False
        if self.rebuild_counts.get(key, 0) >= 3:
            return False  # schema ping-pong guard (drifted INSERTs)
        db, tbl = key.split(".", 1)
        try:
            existing = self._existing_cols(db, tbl)
        except Exception:  # noqa: BLE001  (clone target not created)
            existing = set()
        new_low = {c.lower() for c in cols}
        if existing and not existing <= new_low:
            # r10 (VERDICT r9 #1): the table currently carries
            # consumer-inferred columns the INSERT schema lacks — a
            # rebuild to the INSERT's exact width would discard
            # columns other statements read (the r9 UNRESOLVED_COLUMN
            # 173→944 regression). The corpus genuinely contains both
            # stale INSERTs and stale consumers, and no single width
            # satisfies both; PAD, NEVER SHRINK: add the INSERT
            # aliases the table is missing (they are real-schema
            # evidence) and leave the arity mismatch to the graded
            # insert-arity-on-synthesized-schema tier.
            missing = [c for c in cols if c.lower() not in existing]
            if not missing:
                return False
            if self._alter_add(db, tbl, missing, prov="qualified"):
                prov = self.provenance.setdefault(key, {})
                prov["via_pad"] = "insert-select-pad"
                return True
            return False
        ddl = ", ".join(f"`{c}` STRING" for c in cols)
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{tbl}`")
            self.spark.sql(
                f"CREATE TABLE `{db}`.`{tbl}` ({ddl}) USING parquet"
            )
        except Exception:  # noqa: BLE001
            return False
        self.rebuild_counts[key] = self.rebuild_counts.get(key, 0) + 1
        for c in cols:
            self.col_prov[(key, c.lower())] = "qualified"
        prov = self.provenance.setdefault(key, {})
        prov.update({"via": "insert-select-schema", "n_cols": len(cols)})
        return True

    _TYPE_MAP = {
        "NUMERIC": "DOUBLE", "DOUBLE": "DOUBLE", "FLOAT": "DOUBLE",
        "DECIMAL": "DOUBLE", "INT": "BIGINT", "INTEGER": "BIGINT",
        "BIGINT": "BIGINT", "SMALLINT": "BIGINT", "TINYINT": "BIGINT",
        "TIMESTAMP": "TIMESTAMP", "TIMESTAMP_NTZ": "TIMESTAMP_NTZ",
        "DATE": "DATE", "BOOLEAN": "BOOLEAN",
    }

    def retype_column(self, key: str, col: str, newtype: str) -> bool:
        """Rebuild a repair table with one column's type changed
        (empty v1 parquet tables cannot ALTER COLUMN TYPE; a
        drop-and-recreate preserving every other column's type is
        equivalent). First retype wins per (table, column) — a column
        the corpus uses under conflicting types keeps its first
        evidence and the conflicting statement grades residual."""
        if (key, col) in self.retyped:
            return False
        db, tbl = key.split(".", 1)
        try:
            rows = [
                (r.col_name, r.data_type)
                for r in self.spark.sql(
                    f"DESCRIBE TABLE `{db}`.`{tbl}`"
                ).collect()
                if r.col_name and not r.col_name.startswith("#")
            ]
        except Exception:  # noqa: BLE001
            return False
        if not any(
            c.lower() == col and t.upper().startswith("STRING")
            for c, t in rows
        ):
            return False  # only STRING guesses are retypeable
        ddl = ", ".join(
            f"`{c}` {newtype if c.lower() == col else t}"
            for c, t in rows
        )
        try:
            self.spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{tbl}`")
            self.spark.sql(
                f"CREATE TABLE `{db}`.`{tbl}` ({ddl}) USING parquet"
            )
        except Exception:  # noqa: BLE001
            return False
        self.retyped[(key, col)] = newtype
        self.n_retypes += 1
        return True

    def fix_datatype(self, msg: str, stmt_text: str) -> bool:
        """Typed-shim tier (r10 VERDICT #6): DATATYPE_MISMATCH on a
        synthesized table is usually OUR artifact — the shadow
        catalog types every repaired column STRING, so the corpus's
        real arithmetic/timestamp usage trips ANSI type checks that
        the real warehouse (with real types) never would. The error
        names the exact expression and the required type; retype the
        repair-table STRING columns appearing in that expression to
        the required type. Fires ONLY on columns of synthesized
        tables — corpus-built schemas are ground truth and a type
        error there grades the dialect, not the synthesis."""
        # the offending operand if the message narrows to one,
        # else the full named expression
        m = re.search(r'however "(.+?)" has the type "STRING"', msg)
        if not m:
            m = re.search(
                r'Cannot resolve "(.+?)" due to data type mismatch', msg,
                re.S,
            )
        if not m and "FILTER_NOT_BOOLEAN" in msg:
            m = re.search(r'Filter expression "(.+?)" of type', msg)
        if not m:
            return False
        expr = m.group(1)
        # required type
        target = None
        if "FILTER_NOT_BOOLEAN" in msg:
            target = "BOOLEAN"
        else:
            t = re.search(
                r'requires the (?:input type )?\(?"([A-Z_][A-Z_ ]*)"', msg
            )
            if t:
                target = self._TYPE_MAP.get(t.group(1).split()[0])
            if target is None:
                # DIFF_TYPES shapes: first concrete non-STRING type
                for t2 in re.findall(r'"([A-Z_]+)(?:\(\d+[^"]*)?"', msg):
                    mapped = self._TYPE_MAP.get(t2)
                    if mapped and t2 != "STRING":
                        target = mapped
                        break
        if target is None:
            return False
        tokens = {
            w for w in re.findall(r"[a-z_][a-z0-9_]*", expr.lower())
        }
        if not tokens:
            return False
        changed = False
        for key in self._tables_in_text(stmt_text.lower()):
            try:
                cols = self._existing_cols(*key.split(".", 1))
            except Exception:  # noqa: BLE001
                continue
            for tok in sorted(tokens & cols):
                if self.retype_column(key, tok, target):
                    changed = True
        return changed

    def pad_for_insert(self, msg: str) -> bool:
        """INSERT arity repair: an INSERT with more data columns than
        a REPAIR-created target has gets pad columns -- the real
        table's uninferrable tail (a repair table only ever knows the
        columns other statements read)."""
        m = _ARITY_RE.search(msg)
        if not m:
            return False
        qname, table_cols, data_cols = m.groups()
        parts = [
            p.strip("`") for p in qname.replace("`.`", "\x00").split("\x00")
        ]
        db, tbl = (parts + ["default"])[:2] if len(parts) >= 2 else (
            "default", parts[0])
        if len(parts) >= 2:
            db, tbl = parts[-2], parts[-1]
        key = f"{db}.{tbl}".lower()
        if key not in self.repaired_tables:
            return False
        need = len(data_cols.split(",")) - len(table_cols.split(","))
        if need <= 0:
            return False
        self.repaired_cols += need
        base = self.repaired_cols
        cols = ", ".join(
            f"`__pad_{base}_{k}__` STRING" for k in range(need)
        )
        try:
            self.spark.sql(
                f"ALTER TABLE `{db}`.`{tbl}` ADD COLUMNS ({cols})"
            )
            return True
        except Exception:  # noqa: BLE001
            return False


_EXISTS_RE = re.compile(
    r"TABLE_OR_VIEW_ALREADY_EXISTS[^`]*`([^`]+(?:`\.`[^`]+)*)`"
)


def _attempt(spark, head: str, sql: str):
    """Execute DDL-ish statements, analyze everything else. A CREATE
    whose target exists (files legitimately re-create shared tables)
    drops and retries so the NEW definition is the one validated."""
    if head in _EXEC_HEADS:
        if head == "DROP":
            sql = re.sub(
                r"(?i)^(\s*DROP\s+(?:TABLE|VIEW))\s+(?!IF\b)",
                r"\1 IF EXISTS ", sql, count=1,
            )
        try:
            spark.sql(sql)
        except Exception as e:  # noqa: BLE001
            m = _EXISTS_RE.search(str(e))
            if head != "CREATE" or not m:
                raise
            name = m.group(1)
            try:
                spark.sql(f"DROP TABLE IF EXISTS `{name}`")
                spark.sql(f"DROP VIEW IF EXISTS `{name}`")
            except Exception:  # noqa: BLE001
                pass
            spark.sql(sql)
    else:
        spark.sql(sql)._jdf.queryExecution().analyzed()


def _resolve_lateral(
    spark, head: str, t: str, msg: str, max_probes: int = 24
) -> str | None:
    """Probe-gated lateral-alias inlining (r10 ADVICE #1/#2). Each
    candidate (alias, SELECT block) rewrite is SINGLE-SCOPE
    (inline_lateral_alias_scoped) and only becomes part of the result
    when re-analysis verifies it:

    - a rewrite whose statement escapes the LATERAL_COLUMN_ALIAS tier
      (analyzes clean or moves to a different error) is returned;
    - named errors (_IN_WINDOW / _IN_AGGREGATE_FUNC) accept a step
      whose NEW error names a DIFFERENT alias — a multi-offender
      statement resolves one verified offender at a time;
    - the unnamed _IN_GROUP_BY walk first CONFIRMS each candidate via
      a rename-the-definition probe (rename_lateral_def): a true
      offender's bare uses become UNRESOLVED_COLUMN when the
      definition disappears, while uses that bind to a real FROM
      column leave the error untouched — such candidates are skipped
      (the r10 defect: inlining them changes semantics, since the
      real column wins in both Redshift and Spark).

    Any chain that never escapes the tier is discarded wholesale —
    the statement keeps its original text and error instead of
    accumulating unverified mutations."""
    probes = 0

    def _probe(sql: str) -> str | None:
        nonlocal probes
        probes += 1
        try:
            _attempt(spark, head, sql)
            return None
        except Exception as e:  # noqa: BLE001
            return str(e)

    def _bare_unresolved(err: str, alias: str) -> bool:
        e = err.lower()
        a = alias.lower()
        return (
            "UNRESOLVED_COLUMN" in err
            and f"`{a}`" in e
            and f"`.`{a}`" not in e
        )

    cur, cur_msg = t, msg
    for _step in range(6):
        m2 = _LATALIAS_NAME_RE.search(cur_msg)
        if m2:
            aliases, list_only = [m2.group(1)], False
        else:
            aliases, list_only = lateral_alias_candidates(cur), True
        stepped = False
        for a in aliases:
            if probes >= max_probes:
                return None
            if not m2:
                confirmed = False
                for ps in rename_lateral_def(
                    cur, a, "__lat_probe__", list_only=True
                ):
                    e = _probe(ps)
                    if e and _bare_unresolved(e, a):
                        confirmed = True
                        break
                    if probes >= max_probes:
                        return None
                if not confirmed:
                    continue
            for nt in inline_lateral_alias_scoped(
                cur, a, list_only=list_only
            ):
                if nt == cur or probes >= max_probes:
                    continue
                e = _probe(nt)
                if e is None or "LATERAL_COLUMN_ALIAS" not in e:
                    return nt  # escaped the lateral tier
                nm = _LATALIAS_NAME_RE.search(e)
                named_progress = (
                    m2 and nm
                    and nm.group(1).lower() != m2.group(1).lower()
                )
                if named_progress or not m2:
                    cur, cur_msg = nt, e
                    stepped = True
                    break
            if stepped:
                break
        if not stepped:
            return None
    return None


def main() -> None:
    ref = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "/root/reference")
    out_path = sys.argv[2] if len(sys.argv) > 2 else "ANALYZE_COVERAGE.json"

    from pyspark.sql import SparkSession

    wh = tempfile.mkdtemp(prefix="shadow_wh_")
    spark = (
        SparkSession.builder.master("local[2]")
        # r12: the r11 full sweep's JVM gateway died at ~2.1 h with
        # 1,322 synthesized tables resident — the default 1 GiB
        # driver heap is the prime suspect ("[Errno 111] Connection
        # refused" for the 1,798 then-pending statements). The
        # sweep IS the driver in local mode; give it real headroom.
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", wh)
        .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
        .config("spark.sql.legacy.allowNonEmptyLocationInCTAS", "true")
        # Views re-parse their stored body with CAPTURED configs, not
        # the session's — a view whose text carries "double quoted"
        # identifiers then fails at READ time with PARSE_SYNTAX_ERROR
        # even though its CREATE succeeded (diagnosed r7: ~440 of the
        # sweep's PARSE residuals were consumers of such views, vs
        # 155 genuine parse failures in a canary-probed single-pass
        # run). Current-config view resolution makes the shadow
        # session self-consistent.
        .config("spark.sql.legacy.useCurrentConfigsForView", "true")
        # NOTE (r11, supersedes the r9 measured rejection): ANSI is
        # now OFF. The r9 objection was that ansi.
        # doubleQuotedIdentifiers only applies under ANSI mode, so
        # non-ANSI turned every `"quoted"` identifier into a string
        # literal (PARSE 155 → 619). The transpiler now emits
        # BACKTICK identifiers (_rw_qid_backtick), which parse under
        # any conf — and non-ANSI gives Spark's lenient implicit-cast
        # matrix (string arithmetic, string-vs-numeric comparisons,
        # NULL-on-bad-cast), which is what Redshift's all-implicit
        # casting actually does against the shadow catalog's
        # STRING-typed repair columns. The r11 ANSI-on artifact
        # graded that leniency gap as a ~190-statement
        # DATATYPE_MISMATCH residual tier.
        .config("spark.sql.ansi.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("FATAL")
    install(spark)
    spark.sql(
        "DECLARE OR REPLACE VARIABLE __jinja_param__ STRING "
        "DEFAULT '2024-01-01'"
    )

    # statement inventory, file order (0_ods_core sorts first -- the
    # reference's own layer order)
    stmts: list[tuple[str, str, str]] = []  # (file, head, transpiled)
    raws: list[str] = []  # original corpus text, index-parallel —
    # PARSE residuals are adjudicated on THIS (source-invalid
    # detectors must never see our rewrites)
    n_transpile_fail = 0
    fail_buckets: dict[str, int] = {}
    param_names: set[str] = set()
    schema_hints: dict[str, tuple[list[str], str, str]] = {}
    for path in sorted(p for p in ref.rglob("*.sql") if p.is_file()):
        text = path.read_text(errors="replace")
        for stmt in split_statements(text):
            head = _stmt_head(stmt)
            if head in _SKIP_HEADS or not head:
                continue
            try:
                t = transpile(stmt, temp_tables="table")
            except TranspileError as e:
                n_transpile_fail += 1
                key = "transpile: " + str(e)[:50]
                fail_buckets[key] = fail_buckets.get(key, 0) + 1
                # a source-invalid CREATOR still declares its schema
                # lexically; lift it so the consumers of its table
                # can be synthesized instead of stranded (r7 VERDICT
                # missing #2: 1,113 TABLE_OR_VIEW_NOT_FOUND dominated
                # by consumers of the 150 source-invalid creators)
                h = _hint_columns(stmt)
                if h:
                    k, cols, via = h
                    prev = schema_hints.get(k)
                    if prev is None or len(cols) > len(prev[0]):
                        schema_hints[k] = (
                            cols, via, str(path.relative_to(ref))
                        )
                continue
            param_names.update(re.findall(r"__param_\w+__", t))
            stmts.append((str(path.relative_to(ref)), head, t))
            raws.append(stmt)
    for name in sorted(param_names):
        spark.sql(
            f"DECLARE OR REPLACE VARIABLE {name} STRING DEFAULT '1'"
        )

    shadow = Shadow(spark)
    shadow.schema_hints = schema_hints

    # LIKE-clone provenance: CREATE TABLE x (LIKE y) transpiles (in
    # sweep mode) to an empty CTAS `CREATE TABLE x USING parquet AS
    # SELECT * FROM y WHERE 1 = 0`, or Spark-native `CREATE TABLE x
    # LIKE y` for permanent tables. A clone of a SYNTHESIZED table is
    # itself synthesis-derived: its width is our guess, so an INSERT
    # arity mismatch there grades the guess and may rebuild it.
    _LIKE_CTAS_RE = re.compile(
        r"(?is)\bCREATE\s+TABLE\s+"
        r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)\s+USING\s+parquet"
        r"\s+AS\s+SELECT\s+\*\s+FROM\s+"
        r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)\s+WHERE\s+1\s*=\s*0"
    )
    _LIKE_NATIVE_RE = re.compile(
        r"(?is)\bCREATE\s+TABLE\s+"
        r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)\s+LIKE\s+"
        r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)"
    )

    def _norm_key(name: str) -> str:
        n = re.sub(r"\s", "", name).lower()
        return n if "." in n else f"default.{n}"

    for _f, _h, t in stmts:
        for rx in (_LIKE_CTAS_RE, _LIKE_NATIVE_RE):
            for m in rx.finditer(t):
                shadow.like_map[_norm_key(m.group(1))] = _norm_key(
                    m.group(2)
                )

    _TARGET_RE = re.compile(
        r"(?i)\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMPORARY\s+)?"
        r"(?:TABLE|VIEW)\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)"
    )

    def _create_target(t: str) -> str | None:
        m = _TARGET_RE.search(t)
        if not m:
            return None
        name = re.sub(r"\s", "", m.group(1)).lower()
        return name if "." in name else f"default.{name}"
    # pre-create every schema mentioned in qualified CREATE/INSERT
    # targets so first-pass DDL lands
    for _f, _h, t in stmts:
        m = re.search(
            r"(?i)\b(?:TABLE|VIEW|INTO)\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"([A-Za-z_][\w]*)\s*\.",
            t,
        )
        if m:
            shadow.ensure_db(m.group(1))

    _INS_RE = re.compile(
        r"(?is)^\s*INSERT\s+INTO\s+"
        r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)"
        r"\s*(\([^)]*\))?\s*(.*)$",
    )

    def _retype_insert_target(t: str) -> bool:
        """INSERT arity repair, schema-from-SELECT: when the target's
        width is OUR GUESS (a repair table, or an empty LIKE-clone of
        one), the INSERT's source-query output columns are the real
        schema — analyze the body and rebuild the target to exactly
        those names. Skipped when the INSERT carries an explicit
        column list (the list, not the body, names the columns —
        add_column handles those)."""
        m = _INS_RE.match(t)
        if not m or m.group(2):
            return False
        key = _norm_key(m.group(1))
        body = m.group(3).strip()
        src = shadow.like_map.get(key)
        eligible = (
            key in shadow.repaired_tables
            or (src is not None and (
                src in shadow.repaired_tables
                or src in shadow.rebuild_counts
            ))
        )
        if not eligible or not body:
            return False
        if not re.match(r"(?is)^(SELECT|WITH|\()", body):
            return False
        try:
            cols = list(spark.sql(body).schema.names)
        except Exception:  # noqa: BLE001  (body itself unresolved --
            # the earlier repair branches own that)
            return False
        return shadow.rebuild_to_schema(key, cols)

    status: dict[int, str] = {}  # index -> ok | err-code
    last_msg: dict[int, str] = {}  # index -> head of the last raw error
    # index -> pre-rewrite corpus text (r10 ADVICE #3: residuals are
    # reported against the ORIGINAL statement, not a mutated one)
    orig_text: dict[int, str] = {}
    pending = list(range(len(stmts)))
    t0 = time.monotonic()
    ckpt_path = pathlib.Path(str(out_path) + ".progress")

    def _checkpoint(phase: str) -> None:
        n_ok_now = sum(1 for s in status.values() if s == "ok")
        line = json.dumps({
            "phase": phase,
            "elapsed_s": round(time.monotonic() - t0, 1),
            "analyzed_ok": n_ok_now,
            "pending": len(pending),
            "repaired_tables": len(shadow.repaired_tables),
        })
        print(line, file=sys.stderr, flush=True)
        # Crash-safe landing (r11 lesson: the final artifact only
        # existed because the dead-gateway loop happened to run to
        # completion): every checkpoint also lands a full partial
        # artifact atomically, so ANY death leaves a committable
        # state with per-bucket residuals instead of a counts-only
        # progress line.
        try:
            res: dict[str, int] = {}
            for _i, _s in status.items():
                if _s != "ok":
                    res[_s] = res.get(_s, 0) + 1
            doc = {
                "partial": phase,
                "statements": len(stmts) + n_transpile_fail,
                "transpile_failed": n_transpile_fail,
                "analyzed_ok": n_ok_now,
                "repaired_tables": len(shadow.repaired_tables),
                "datatype_retypes": shadow.n_retypes,
                "ambiguity_drops": shadow.n_ambiguity_drops,
                "residual_buckets": dict(
                    sorted(res.items(), key=lambda kv: -kv[1])[:40]
                ),
            }
            tmp = pathlib.Path(str(out_path) + ".partial.tmp")
            tmp.write_text(json.dumps(doc, indent=1))
            tmp.replace(str(out_path) + ".partial.json")
        except OSError:
            pass
        try:
            ckpt_path.write_text(line + "\n")
        except OSError:
            pass

    # Terminal error classes no catalog repair can change: retrying
    # them every round is pure waste (134 PARSE + 381 v1-boundary
    # statements × ~150 ms × up to 60 rounds was a dominant cost of
    # the r10 sweep's >5.7 h runtime).
    def _terminal(s: str) -> bool:
        return (
            s.startswith("PARSE_SYNTAX_ERROR")
            or s.startswith("UNSUPPORTED_SUBQUERY")
            or "not supported temporarily" in s
            or s == "_LEGACY_ERROR_TEMP_2096"
            or s.startswith("UNSUPPORTED_FEATURE.TABLE_OPERATION")
        )

    # Phase 1: fixed-point convergence without repair (pure
    # dependency ordering)
    for _round in range(8):
        progress = False
        still: list[int] = []
        for i in pending:
            if _terminal(status.get(i, "")):
                still.append(i)
                continue
            f, head, t = stmts[i]
            try:
                _attempt(spark, head, t)
                status[i] = "ok"
                progress = True
            except Exception as e:  # noqa: BLE001
                status[i] = _err_code(e)
                last_msg[i] = str(e)[:300]
                still.append(i)
        pending = still
        _checkpoint(f"phase1-r{_round}")
        if not progress or not pending:
            break

    # Phase 2: repair loop -- create missing raw-source tables /
    # columns on demand, then re-run the fixed point. A missing table
    # some PENDING statement still CREATEs is never repaired: the
    # creator runs first and the fixed point picks the dependent up
    # next round (otherwise a wrongly-ordered file pair would turn a
    # corpus-built table into a placeholder).
    def repair_sweep(guard_creators: bool, max_rounds: int = 10) -> None:
        # Convergence contract (r11): a round costs O(pending)
        # analyses (~6-7 min at full-corpus pending) whether or not
        # anything lands, and `progress` alone is satisfiable by
        # repairs that never turn a statement green — the r10 failure
        # mode where phase 2 ran all 30 rounds. Two bounds: stop
        # after 2 consecutive rounds below a newly-ok THRESHOLD
        # (max(2, 0.2% of pending) — a zero-only test was defeated by
        # a +1-per-round cascade trickle, observed r11: p2-r3..r6 all
        # ok1), and a hard per-phase round cap. The handful of
        # trickle statements a longer tail might land is traded for a
        # sweep that fits a round.
        stalled = 0
        for _round in range(max_rounds):
            progress = False
            newly_ok = 0
            creatable = (
                {
                    _create_target(stmts[i][2])
                    for i in pending
                    if stmts[i][1] == "CREATE"
                }
                - {None}
                if guard_creators
                else set()
            )
            for i in list(pending):
                if _terminal(status.get(i, "")):
                    continue  # no repair can change this class
                f, head, t = stmts[i]
                for _try in range(12):
                    try:
                        _attempt(spark, head, t)
                        status[i] = "ok"
                        pending.remove(i)
                        progress = True
                        newly_ok += 1
                        break
                    except Exception as e:  # noqa: BLE001
                        msg = str(e)
                        status[i] = _err_code(e)
                        last_msg[i] = msg[:300]
                        try:
                            m = _MISSING_RE.search(msg)
                            if m:
                                parts = [
                                    p.strip("`")
                                    for p in m.group(1)
                                    .replace("`.`", "\x00")
                                    .split("\x00")
                                ]
                                key = (
                                    f"{parts[-2]}.{parts[-1]}".lower()
                                    if len(parts) >= 2
                                    else f"default.{parts[0]}".lower()
                                )
                                if (
                                    key in creatable
                                    and key != _create_target(t)
                                ):
                                    break  # its creator is still pending
                            if m and shadow.create_missing(m.group(1), t):
                                progress = True
                                continue
                            m = (
                                _UNRESOLVED_RE.search(msg)
                                or _LATERAL_RE.search(msg)
                            )
                            if m and shadow.add_column(m.group(1), t):
                                progress = True
                                continue
                            if (
                                "DATATYPE_MISMATCH" in msg
                                and shadow.fix_datatype(msg, t)
                            ):
                                progress = True
                                continue
                            if (
                                "UNRESOLVED_USING_COLUMN" in msg
                                and shadow.add_using_column(msg, t)
                            ):
                                progress = True
                                continue
                            if "LATERAL_COLUMN_ALIAS" in msg:
                                nt = _resolve_lateral(
                                    spark, head, t, msg
                                )
                                if nt and nt != t:
                                    orig_text.setdefault(i, stmts[i][2])
                                    stmts[i] = (f, head, nt)
                                    t = nt
                                    progress = True
                                    continue
                                break  # no verified rewrite: the
                                # statement keeps its lateral error
                                # instead of burning the retry cap
                            if (
                                "INSERT_COLUMN_ARITY_MISMATCH" in msg
                                and _retype_insert_target(t)
                            ):
                                progress = True
                                continue
                            if shadow.pad_for_insert(msg):
                                progress = True
                                continue
                            if (
                                "AMBIGUOUS_REFERENCE" in msg
                                and shadow.resolve_ambiguous(msg, t)
                            ):
                                progress = True
                                continue
                        except Exception:  # noqa: BLE001  (a repair
                            # crash must never kill the sweep -- the
                            # statement keeps its recorded error)
                            pass
                        break
            _checkpoint(
                ("p2" if guard_creators else "p3")
                + f"-r{_round}-ok{newly_ok}"
            )
            if not progress or not pending:
                break
            if newly_ok < max(2, len(pending) // 500):
                stalled += 1
                if stalled >= 2:
                    break
            else:
                stalled = 0

    repair_sweep(guard_creators=True, max_rounds=8)
    # Phase 3: every CREATE still pending is TERMINAL (phase 2 ran to
    # its fixed point) -- its consumers would wait forever behind the
    # creator guard. Lift the guard so tables whose creators are
    # permanently failed (source-invalid or analyzer-failed) get
    # synthesized from schema hints / consumer inference instead of
    # stranding their whole downstream cone in
    # TABLE_OR_VIEW_NOT_FOUND (r7 VERDICT "Next round" #4).
    repair_sweep(guard_creators=False, max_rounds=12)

    # r10 ADVICE #3: a lateral-rewritten statement that still ends
    # residual is re-probed as its ORIGINAL corpus text, so recorded
    # errors grade the corpus, not our mutation. (A committed rewrite
    # is probe-verified to have escaped the lateral tier, so this
    # only fires when a LATER error kept the statement residual.)
    for i in list(orig_text):
        if status.get(i) == "ok":
            continue
        f, head, _t = stmts[i]
        try:
            _attempt(spark, head, orig_text[i])
            status[i] = "ok"  # catalog converged since the rewrite
        except Exception as e:  # noqa: BLE001
            status[i] = _err_code(e)
            last_msg[i] = str(e)[:300]

    n_ok = sum(1 for s in status.values() if s == "ok")
    # INSERT-arity-on-synthesized-schema tier: when the INSERT target
    # is a REPAIR table (its creator is source-invalid or external),
    # the true column count is unknowable from text -- a width
    # mismatch there grades the synthesis, not the statement. Claim
    # the tier only when the SELECT side alone analyzes clean (the
    # statement's actual resolution work all succeeded).
    _INS_TGT_RE = re.compile(
        r"(?is)^\s*INSERT\s+INTO\s+"
        r"([A-Za-z_][\w]*(?:\s*\.\s*[A-Za-z_][\w]*)?)"
        r"\s*(?:\([^)]*\))?\s*(.*)$",
    )
    n_arity_synth = 0
    for i, s in list(status.items()):
        if not s.startswith("INSERT_COLUMN_ARITY_MISMATCH"):
            continue
        m = _INS_TGT_RE.match(stmts[i][2])
        if not m:
            continue
        name = re.sub(r"\s", "", m.group(1)).lower()
        key = name if "." in name else f"default.{name}"
        body = m.group(2).strip()
        if key not in shadow.repaired_tables or not body:
            continue
        if not re.match(r"(?is)^(SELECT|WITH|VALUES|\()", body):
            continue
        try:
            spark.sql(body)._jdf.queryExecution().analyzed()
            status[i] = "insert-arity-on-synthesized-schema"
            n_arity_synth += 1
        except Exception:  # noqa: BLE001
            pass
    # Row-level-op-on-v1 boundary (MERGE/DELETE/UPDATE on parquet):
    # name/column resolution SUCCEEDED and only the table format
    # blocks execution -- Spark checks write capability after
    # resolving. The engine's transactional answer is sources/txlog.
    n_rowlevel_v1 = 0
    residual: dict[str, int] = {}
    samples: list[dict] = []
    # PARSE re-adjudication (VERDICT r11 #4): under backtick
    # emission, a PARSE residual is either provably broken SOURCE
    # (the r7 lexical detectors, run on the ORIGINAL corpus text) or
    # a genuine transpiler gap — zero of the latter is the bar.
    from transpile_reference import adjudicate  # noqa: E402

    parse_adjudication: dict[str, int] = {}
    for i, s in status.items():
        if s == "ok":
            continue
        if (
            "not supported temporarily" in s
            or s == "_LEGACY_ERROR_TEMP_2096"
            or s.startswith("UNSUPPORTED_FEATURE.TABLE_OPERATION")
        ):
            n_rowlevel_v1 += 1
            s = "rowlevel-v1-table-format"
        elif s == "insert-arity-on-synthesized-schema":
            pass  # keep the tier name as its own residual bucket
        elif _PLACEHOLDER_RE.search(stmts[i][2]) and (
            "UNRESOLVED" in s or "TABLE_OR_VIEW" in s or "DATATYPE" in s
            # ANSI constant-folds casts of the placeholder DEFAULT
            # value at analysis time ('2024-01-01' as int) — grades
            # the template hole, not the dialect
            or "CAST_INVALID_INPUT" in s
            # a template hole can sit where SYNTAX depends on the
            # injected text (the intercom Athena export writes
            # `:param;` with per-line semicolons that fragment the
            # statement) -- the parse failure grades the template,
            # not the dialect
            or "PARSE_SYNTAX" in s
        ):
            s = "template-param-limited"
        elif s.startswith("PARSE_SYNTAX_ERROR"):
            tier, detail = adjudicate(raws[i], last_msg.get(i, ""))
            parse_adjudication[f"{tier}: {detail}"] = (
                parse_adjudication.get(f"{tier}: {detail}", 0) + 1
            )
            if tier == "source_invalid":
                s = "parse-source-invalid"
            elif tier == "template_limited":
                s = "template-param-limited"
            # dialect_gap keeps PARSE_SYNTAX_ERROR — a transpiler
            # regression to burn, surfaced in residual_samples
        residual[s] = residual.get(s, 0) + 1
        if len(samples) < 60 and s not in (
            "rowlevel-v1-table-format", "template-param-limited",
            "insert-arity-on-synthesized-schema",
            "parse-source-invalid",
        ):
            samples.append({"file": stmts[i][0], "head": stmts[i][1],
                            "err": status[i][:160],
                            "msg": last_msg.get(i, "")[:300],
                            **({"lateral_rewritten": True}
                               if i in orig_text else {})})

    # Per-top-level-directory PARSE residual: lets a directory-scoped
    # re-run be compared 1:1 against the full-corpus sweep (the r7
    # PARSE-bucket excess was only visible cross-directory).
    parse_by_dir: dict[str, int] = {}
    for i, s in status.items():
        if s.startswith("PARSE_SYNTAX_ERROR"):
            d = stmts[i][0].split("/", 1)[0]
            parse_by_dir[d] = parse_by_dir.get(d, 0) + 1

    result = {
        "statements": len(stmts) + n_transpile_fail,
        "transpile_failed": n_transpile_fail,
        "analyzed_ok": n_ok,
        "parse_residual_by_dir": dict(sorted(parse_by_dir.items())),
        "rowlevel_v1_table_format": n_rowlevel_v1,
        "insert_arity_on_synthesized_schema": n_arity_synth,
        "repaired_tables": len(shadow.repaired_tables),
        "datatype_retypes": shadow.n_retypes,
        "ambiguity_drops": shadow.n_ambiguity_drops,
        "insert_select_schema_rebuilds": len(shadow.rebuild_counts),
        "schema_hints_lifted": len(schema_hints),
        "parse_adjudication": dict(
            sorted(parse_adjudication.items(), key=lambda kv: -kv[1])
        ),
        "synthesized_tables": dict(sorted(shadow.provenance.items())),
        "residual_buckets": dict(
            sorted(residual.items(), key=lambda kv: -kv[1])
        ),
        "residual_samples": samples,
        "transpile_buckets": dict(
            sorted(fail_buckets.items(), key=lambda kv: -kv[1])
        ),
    }
    pathlib.Path(out_path).write_text(json.dumps(result, indent=1))
    print(json.dumps({
        "statements": result["statements"],
        "analyzed_ok": n_ok,
        "rowlevel_v1": n_rowlevel_v1,
        "repaired_tables": len(shadow.repaired_tables),
    }))
    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()

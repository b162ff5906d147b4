"""Agent loop (SURVEY §2.9): plan → retrieve → judge → rewrite/stage-down
(≤3 attempts) → synthesize, over a BATCH of queries.

Control-flow semantics ported from the reference's LangGraph agent
(agent_graph.py:178-543) — these fallbacks are observable behavior and
are preserved bit-for-bit:

- plan: filters seeded with namespace; regex repo hint; LLM scope JSON;
  parse failure → heuristic (code if looks_codey else project); list-
  valued filter values → singular key, first element (:198-239);
  TECH_SYNONYMS topic injection (:230-233).
- retrieve: graph retrieval; if hits<3 or attempt>0, LLM query
  expansion (JSON array, keyword fallback), merge+content-hash dedup,
  cap at ROUTER_TOP_K=5; score-desc order (:241-302).
- judge: LLM coverage JSON; parse failure → fixed stage-down coverages
  0.2/0.3/0.4 by scope; suggest_filters accretion; explicit stage_down
  else coverage<0.3 ladder project→package→file→code (:304-384).
- rewrite_or_end: stop when attempts≥3; stuck detection (attempt>1,
  all docs lack file_path, scope∈{project,package} → force file);
  attempt-1 LLM rewrite (fallback 'q in context'), later attempts use
  first expansion (:386-446).
- synthesize: ≤5 blocks × 800 chars with [i] repo/module/file headers;
  overview-vs-specific prompt; conservative-answer detector with one
  retry (:448-516). Sources = 6-key metadata + ≤1200-char text (:70-85).

The loop itself is driver-side (bounded, ≤3 iterations) while every
retrieval serves the whole query batch at once — from the store's
driver snapshot when it fits the driver bound, else as one batched
DataFrame plan — the Spark analog of the reference's per-query state
machine, amortized across the whole query batch.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass, field
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from githubrepostorag_spark.functions.embed import EMBED_DIM, embed_text
from githubrepostorag_spark.llm.stub import LLM, sanitize_llm_output
from githubrepostorag_spark.operators.retrieval import (
    QUERY_COLS,
    QUERY_SCHEMA,
    SCOPE_PARAMS,
    SCOPE_TO_TABLE,
    retrieve_batch_multi,
    store_snapshot,
)

MAX_RAG_ATTEMPTS = 3  # rag_shared/config.py:6,37
ROUTER_TOP_K = 5  # rag_shared/config.py:35
MIN_SOURCE_NODES = 1  # rag_shared/config.py:7,38

TECH_SYNONYMS = {
    "activemq": ["activemq", "jms", "amq", "failovertransport", "redeliverypolicy", "broker", "stomp"]
}

CODEY_TERMS = (
    "stacktrace", "traceback", "exception", "error", "class ", "function ", "method ",
    "nullpointer", "undefined", "timeout", "reconnect", "retry", "activemq", "jms",
)

OVERVIEW_TERMS = ("projects", "repositories", "overview", "tell me about", "what is", "describe")
CONSERVATIVE_PHRASES = ("insufficient", "don't see enough", "can't answer", "not enough information")

STAGE_DOWN = {"project": "package", "package": "file", "file": "code"}


def looks_codey(q: str) -> bool:
    ql = q.lower()
    return any(s in ql for s in CODEY_TERMS)


def extract_repo_hint(q: str) -> str | None:
    m = re.search(r"(?:repo(?:sitory)?[:\s]+)([\w\-./]+)", q, re.I)
    return m.group(1) if m else None


def _content_key(body: str | None) -> str:
    """Cross-run-stable content dedup key (md5, not salted hash())
    — the engine's fingerprint rule (functions/text.py:80-88)."""
    return hashlib.md5((body or "").encode("utf-8", "ignore")).hexdigest()


def _merge_filters(filters: dict, suggested: dict) -> None:
    """String values kept; list values → singular key, first element."""
    for k, v in (suggested or {}).items():
        if isinstance(v, str) and v:
            filters[k] = v
        elif isinstance(v, list) and v:
            singular = k.rstrip("s") if k.endswith("s") else k
            filters[singular] = v[0]


def _slice_json(raw: str, open_ch: str = "{", close_ch: str = "}") -> Any:
    start = raw.find(open_ch)
    end = raw.rfind(close_ch) + 1
    return json.loads(raw[start:end])


@dataclass
class QueryState:
    job_id: str
    query: str
    namespace: str = "default"
    force_level: str | None = None
    scope: str = "project"
    filters: dict = field(default_factory=dict)
    attempt: int = 0
    docs: list[dict] = field(default_factory=list)
    needs_more: bool = False
    rewrite: str | None = None
    answer: str | None = None
    done: bool = False
    events: list[dict] = field(default_factory=list)
    sources: list[dict] = field(default_factory=list)

    def emit(self, stage: str, **data: Any) -> None:
        self.events.append({"job_id": self.job_id, "seq": len(self.events), "event": stage, **data})


class GraphRAGAgent:
    """Batched agent over a vector store DataFrame (all scopes)."""

    def __init__(
        self,
        spark: SparkSession,
        store: DataFrame,
        llm: LLM,
        max_iters: int = MAX_RAG_ATTEMPTS,
    ):
        self.spark = spark
        self.store = store
        self.llm = llm
        self.max_iters = max_iters

    # ---------------- plan ----------------
    def plan(self, st: QueryState) -> None:
        filters = dict(st.filters)
        filters.setdefault("namespace", st.namespace)
        rh = extract_repo_hint(st.query)
        if rh:
            filters["repo"] = rh
        msg = (
            "Choose the best search scope for a codebase question. "
            "Return JSON: {scope: project|package|file|code, filters?:{repo?,module?,topics?}}"
            f"\nQuestion: {st.query}\nJSON:"
        )
        try:
            data = _slice_json(sanitize_llm_output(self.llm.complete(msg)))
            scope = data.get("scope") or ("code" if looks_codey(st.query) else "project")
            _merge_filters(filters, data.get("filters") or {})
        except Exception:
            scope = "code" if looks_codey(st.query) else "project"
        if st.force_level and st.force_level in SCOPE_PARAMS:
            scope = st.force_level
        for tech, syns in TECH_SYNONYMS.items():
            if any(t in st.query.lower() for t in syns) and "topics" not in filters:
                filters["topics"] = tech
                break
        st.scope, st.filters = scope, filters
        st.emit("plan", scope=scope, filters=dict(filters), attempt=st.attempt)

    # ---------------- retrieve ----------------
    @staticmethod
    def _query_meta(entries: list[tuple[str, str, dict, str]]) -> list[dict]:
        """entries: (query_id, text, filters, agent_scope) → one dict
        per entry, keyed by `QUERY_COLS`. The query vector is rounded
        to float32, as the array<float> `QUERY_SCHEMA` column stores it,
        so the snapshot and the Spark path score the same vector. The
        scope rides along as a table scope + per-query ranking params,
        so one list serves a mixed-scope batch."""
        meta = []
        for qid, text, filters, scope in entries:
            p = SCOPE_PARAMS[scope]
            meta.append(
                {
                    "query_id": qid,
                    "qvec": np.float32(embed_text(text, EMBED_DIM)).tolist(),
                    "flt_namespace": filters.get("namespace"),
                    "flt_repo": filters.get("repo"),
                    "flt_module": filters.get("module"),
                    "flt_topics": filters.get("topics"),
                    "q_scope": SCOPE_TO_TABLE.get(scope, scope),
                    "p_k": p.k,
                    "p_start_k": p.start_k,
                    "p_adjacent_k": p.adjacent_k,
                    "p_max_depth": p.max_depth,
                }
            )
        return meta

    def _retrieve_all(
        self, entries: list[tuple[str, str, dict, str]]
    ) -> dict[str, list[dict]]:
        """ONE retrieval for the whole mixed-scope entry list — every
        scope and every expansion query share it. A store within the
        driver bound answers from its snapshot with no Spark job;
        a larger one runs the same ranking as one shared Spark plan
        (`retrieve_batch_multi`)."""
        out: dict[str, list[dict]] = {qid: [] for qid, _, _, _ in entries}
        if not entries:
            return out
        meta = self._query_meta(entries)
        snap = store_snapshot(self.store)
        if snap is not None:
            rows = snap.retrieve(meta)
        else:
            qdf = self.spark.createDataFrame(
                [tuple(m[c] for c in QUERY_COLS) for m in meta], QUERY_SCHEMA
            )
            rows = [
                r.asDict()
                for r in retrieve_batch_multi(self.store, qdf, query_meta=meta).collect()
            ]
        for d in rows:
            out[d.pop("query_id")].append(d)
        return out

    def retrieve(self, batch: list[QueryState]) -> None:
        # expansion is unconditional for attempt>0 (reference :253-257),
        # so those expansion queries are folded into the SAME Spark job
        # as the originals; attempt-0 states expand only if hits<3,
        # which needs a (rare) second job
        pre = [st for st in batch if st.attempt > 0]
        pre_entries, pre_qs = self._expansion_entries(pre)
        hits = self._retrieve_all(
            [(st.job_id, st.query, st.filters, st.scope) for st in batch] + pre_entries
        )
        for st in batch:
            st.docs = sorted(hits[st.job_id], key=lambda d: (-(d["score"] or 0.0), d["row_id"]))
        late = [st for st in batch if st.attempt == 0 and len(st.docs) < 3]
        late_entries, late_qs = self._expansion_entries(late)
        late_hits = self._retrieve_all(late_entries)
        self._merge_expansions(pre, pre_qs, hits)
        self._merge_expansions(late, late_qs, late_hits)
        for st in batch:
            st.emit("retrieve", scope=st.scope, filters=dict(st.filters), hits=len(st.docs))

    def _expand_queries(self, st: QueryState) -> list[str]:
        """L10 expansion with the reference's keyword fallback."""
        prompt = (
            "Generate 3-4 semantically related search queries for a codebase question. "
            "Return JSON array of strings.\n\n"
            f"Original question: {st.query}\n\nJSON array:"
        )
        try:
            raw = sanitize_llm_output(self.llm.complete(prompt))
            arr = _slice_json(raw, "[", "]")
            qs = [q for q in arr if isinstance(q, str) and q.strip()]
            if qs:
                return qs
        except Exception:
            pass
        fallbacks: list[str] = []
        ql = st.query.lower()
        if "auth" in ql or "login" in ql:
            fallbacks += ["authentication mechanism", "security configuration", "OAuth2 setup"]
        if "cache" in ql or "caching" in ql:
            fallbacks += ["caching strategy", "cache configuration", "data caching implementation"]
        if "config" in ql or "configuration" in ql:
            fallbacks += ["application settings", "environment configuration", "setup parameters"]
        return fallbacks[:3] if fallbacks else [st.query]

    def _expansion_entries(
        self, batch: list[QueryState]
    ) -> tuple[list[tuple[str, str, dict, str]], dict[str, list[str]]]:
        """V4 fan-out inputs: one entry per expansion query, keyed
        `{job_id}::exp{i}`, plus the per-state expansion texts."""
        entries: list[tuple[str, str, dict, str]] = []
        per_state: dict[str, list[str]] = {}
        for st in batch:
            eqs = self._expand_queries(st)
            per_state[st.job_id] = eqs
            for i, eq in enumerate(eqs):
                entries.append((f"{st.job_id}::exp{i}", eq, st.filters, st.scope))
        return entries, per_state

    def _merge_expansions(
        self,
        batch: list[QueryState],
        per_state: dict[str, list[str]],
        results: dict[str, list[dict]],
    ) -> None:
        """Union expansion results into st.docs, content-dedup, cap at 5."""
        for st in batch:
            seen = {_content_key(d["body"]) for d in st.docs}
            original = len(st.docs)
            merged = list(st.docs)
            for i in range(len(per_state[st.job_id])):
                if len(merged) >= ROUTER_TOP_K:
                    break
                for d in sorted(
                    results.get(f"{st.job_id}::exp{i}", []),
                    key=lambda d: (-(d["score"] or 0.0), d["row_id"]),
                ):
                    if len(merged) >= ROUTER_TOP_K:
                        break
                    h = _content_key(d["body"])
                    if h not in seen:
                        merged.append(d)
                        seen.add(h)
            st.docs = sorted(merged[:ROUTER_TOP_K], key=lambda d: (-(d["score"] or 0.0), d["row_id"]))
            if len(st.docs) > original:
                st.emit(
                    "retrieve_expanded",
                    original_hits=original,
                    expanded_hits=len(st.docs),
                    expanded_queries=per_state[st.job_id],
                )

    # ---------------- judge ----------------
    def judge(self, st: QueryState) -> None:
        inv = [
            {
                "i": i,
                "repo": d.get("repo") or "",
                "module": d.get("module") or "",
                "file": d.get("file_path") or "",
                "content_preview": (d.get("body") or "")[:200],
                "relevance_score": d.get("score"),
            }
            for i, d in enumerate(st.docs, start=1)
        ]
        msg = (
            "Judge if the retrieved content is semantically relevant and sufficient to "
            "answer the question. Return JSON: {coverage:0..1, needs_more:boolean, "
            "suggest_filters?, stage_down?, rewrite?, semantic_match:boolean}"
            f"\n\nQuestion: {st.query}\nRetrieved items: {json.dumps(inv)}\nJSON:"
        )
        try:
            data = _slice_json(sanitize_llm_output(self.llm.complete(msg)))
        except Exception:
            # reference fallback: fixed stage-down coverages (agent_graph.py:346-355)
            if st.scope == "project":
                data = {"coverage": 0.2, "needs_more": True, "stage_down": "package"}
            elif st.scope == "package":
                data = {"coverage": 0.3, "needs_more": True, "stage_down": "file"}
            else:
                data = {"coverage": 0.4, "needs_more": False}
        _merge_filters(st.filters, data.get("suggest_filters") or {})
        next_scope = st.scope
        stage_down = data.get("stage_down")
        if stage_down in {"package", "file", "code"}:
            next_scope = stage_down
        elif data.get("coverage", 0) < 0.3 and len(st.docs) > 0:
            next_scope = STAGE_DOWN.get(st.scope, st.scope)
        st.needs_more = bool(data.get("needs_more"))
        st.rewrite = data.get("rewrite")
        st.scope = next_scope
        st.emit("judge", decision=data)

    # ---------------- rewrite_or_end ----------------
    def rewrite_or_end(self, st: QueryState) -> None:
        if not st.needs_more:
            return
        attempt = st.attempt + 1
        if attempt >= self.max_iters:
            st.needs_more = False
            st.attempt = attempt
            return
        if attempt > 1 and st.docs:
            all_repo_level = all(not d.get("file_path") for d in st.docs)
            if all_repo_level and st.scope in ("project", "package"):
                st.scope = "file"
                st.attempt = attempt
                return
        base = st.rewrite or st.query
        if attempt == 1:
            ctx = " ".join(
                v for v in (st.filters.get("repo"), st.filters.get("module")) if v
            )
            prompt = (
                f"Rewrite this codebase question to be more specific and searchable: '{base}'"
                f"{' Context: ' + ctx if ctx else ''}"
                "\nReturn only the rewritten question, no explanation:"
            )
            try:
                sharpened = sanitize_llm_output(self.llm.complete(prompt)).strip("\"'").strip()
                if not sharpened or len(sharpened) < 10:
                    raise ValueError("Rewrite too short")
            except Exception:
                sharpened = " ".join([base] + ([f"in {ctx}"] if ctx else []))
        else:
            eqs = self._expand_queries(st)
            sharpened = eqs[0] if eqs else base
        st.query = sharpened
        st.attempt = attempt
        st.emit("rewrite", action="retry", attempt=attempt + 1, query=sharpened)

    # ---------------- synthesize ----------------
    def synthesize(self, st: QueryState) -> None:
        max_blocks = min(5, len(st.docs))
        blocks, sources = [], []
        for i, d in enumerate(st.docs[:max_blocks], start=1):
            text = d.get("body") or ""
            blocks.append(
                f"[{i}] repo={d.get('repo') or ''} module={d.get('module') or ''} "
                f"file={d.get('file_path') or ''}\n{text[:800]}"
            )
            sources.append(
                {
                    "block": i,
                    "score": d.get("score"),
                    "metadata": {
                        "scope": d.get("scope") or "",
                        "namespace": d.get("namespace") or "",
                        "repo": d.get("repo") or "",
                        "module": d.get("module") or "",
                        "file_path": d.get("file_path") or "",
                        "topics": ",".join(d.get("topics") or []),
                    },
                    "text": text[:1200],
                }
            )
        ql = st.query.lower()
        question_type = "overview" if any(w in ql for w in OVERVIEW_TERMS) else "specific"
        has_content = any(len(b.split("\n", 1)[-1].strip()) > 50 for b in blocks)
        if question_type == "overview" and has_content:
            sys = (
                "You are a senior developer assistant. Use the provided context blocks to "
                "give a comprehensive answer. Cite sources as [1], [2], etc."
            )
        else:
            sys = (
                "You are a senior developer assistant. Answer using the provided context "
                "blocks. Cite blocks as [1], [2]."
            )
        prompt = f"{sys}\n\nQuestion: {st.query}\n\nContext:\n" + "\n\n".join(blocks) + "\n\nAnswer:"
        try:
            text = sanitize_llm_output(self.llm.complete(prompt))
            if (
                has_content
                and len(st.docs) >= 3
                and any(p in text.lower() for p in CONSERVATIVE_PHRASES)
            ):
                retry_sys = (
                    "You are a helpful developer assistant. Use the context provided to "
                    "describe the projects you can see. Cite sources as [1], [2]."
                )
                retry = sanitize_llm_output(
                    self.llm.complete(
                        f"{retry_sys}\n\nQuestion: {st.query}\n\nContext:\n"
                        + "\n\n".join(blocks)
                        + "\n\nAnswer:"
                    )
                )
                if not any(p in retry.lower() for p in CONSERVATIVE_PHRASES):
                    text = retry
        except Exception as e:  # reference surfaces the error string
            text = f"(LLM error) {e}"
        st.answer = text
        st.sources = sources
        st.emit(
            "synthesize",
            final_ctx_blocks=len(blocks),
            sources_count=len(sources),
            answer_length=len(text),
        )

    # ---------------- driver ----------------
    def run_batch(self, jobs: list[dict]) -> list[QueryState]:
        """jobs: dicts with job_id, query, optional namespace/force_level."""
        states = [
            QueryState(
                job_id=j["job_id"],
                query=j["query"],
                namespace=j.get("namespace") or "default",
                force_level=j.get("force_level"),
            )
            for j in jobs
        ]
        for st in states:
            st.emit("started", query=st.query)
            self.plan(st)
        active = list(states)
        while active:
            self.retrieve(active)
            for st in active:
                self.judge(st)
                self.rewrite_or_end(st)
            active = [st for st in active if st.needs_more]
        for st in states:
            self.synthesize(st)
            st.emit("final", answer_length=len(st.answer or ""), scope=st.scope)
        return states

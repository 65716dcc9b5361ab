"""Interactive hybrid-RAG console — the CLI twin of the reference's
Streamlit UI (``/root/reference/src/ui.py``): same pipeline, same
six visible steps, a stdin loop instead of a browser. This closes the
one reference surface the engine had no runnable entry point for;
every call it makes already exists in ``llm/rag.py`` (the UI is
serving, not a query capability — the repo's standing-ledger wording).

Usage:
    python scripts/serve_repl.py [--notes PATH] [--extracted PATH]
                                 [--limit N] [--live]

Defaults read the reference fixtures (note.json / extracted_fhir.json
— the pre-extracted records skip the LLM extraction pass exactly like
the reference's idempotent re-ingest). ``--live`` swaps the
deterministic mock for the OpenRouter-shape ``HttpLLMClient``
($OPENROUTER_API_KEY), the same seam the tests exercise offline.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOTES_DEFAULT = "/root/reference/data/note.json"
EXTRACTED_DEFAULT = "/root/reference/data/extracted_fhir.json"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--notes", default=NOTES_DEFAULT)
    ap.add_argument("--extracted", default=EXTRACTED_DEFAULT)
    ap.add_argument("--limit", type=int, default=300)
    ap.add_argument(
        "--live", action="store_true",
        help="use HttpLLMClient ($OPENROUTER_API_KEY) instead of the mock",
    )
    args = ap.parse_args()

    from odsc_agentic_ai_summit_2025_spark.pipeline import build_rag_pipeline
    from odsc_agentic_ai_summit_2025_spark.schemas import EXTRACTED_FHIR, NOTES
    from odsc_agentic_ai_summit_2025_spark.session import get_spark
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_json_records

    client = None
    client_factory = None
    if args.live:
        from odsc_agentic_ai_summit_2025_spark.llm.http_client import (
            HttpLLMClient,
        )

        client = HttpLLMClient()
        client_factory = HttpLLMClient

    print("[build] starting Spark session ...", flush=True)
    spark = get_spark(app_name="hybrid_rag_repl")
    notes = read_json_records(spark, args.notes, NOTES)
    if args.limit:
        notes = notes.filter(f"record_id <= {args.limit}")
    extracted = None
    if args.extracted and os.path.exists(args.extracted):
        extracted = read_json_records(spark, args.extracted, EXTRACTED_FHIR)
        if args.limit:
            # same population as the notes slice — otherwise the graph
            # arm answers over patients the vector arm cannot retrieve
            extracted = extracted.filter(f"record_id <= {args.limit}")
        print(f"[build] re-ingesting pre-extracted records "
              f"({args.extracted})", flush=True)
    print("[build] notes -> graph -> indexes (one lazy program) ...",
          flush=True)
    pipe = build_rag_pipeline(
        spark, notes,
        client=client, client_factory=client_factory,
        extracted=extracted,
    )
    n_pat = spark.sql("SELECT count(*) FROM patient").collect()[0][0]
    print(f"[build] ready — {n_pat} patients in the graph. "
          f"Empty line or Ctrl-D exits.", flush=True)

    try:
        while True:
            try:
                question = input("\nquestion> ").strip()
            except EOFError:
                break
            if not question:
                break
            ans = pipe.rag.ask(question)
            # the reference UI's six visible artifacts, in its step order
            print(f"[1/6] input guardrail: {ans.guardrail_action}"
                  + (f" (masked: {ans.masked_question})"
                     if ans.masked_question != question else ""))
            print(f"[2/6] pruned schema: {len(ans.pruned_schema)} chars")
            ents = " ".join(f"{e['key']}={e['value']}" for e in ans.entities)
            print(f"[3/6] entities: {ents or '(none)'}")
            print(f"[4/6] generated SQL: {ans.sql or '(no SQL generated)'}")
            if ans.graph_rows:
                print(f"      graph rows: {ans.graph_rows[:10]}")
            print(f"[5/6] graph answer:  {ans.graph_answer}")
            print(f"      vector answer: {ans.vector_answer} "
                  f"(context notes: {ans.context_ids})")
            print(f"[6/6] final answer:  {ans.final_answer}")
    finally:
        # the persisted extraction and the serving caches
        pipe.release()

    if pipe.collector is not None:
        t = pipe.collector.totals()
        print(
            f"\n[usage] {t['n_calls']} LLM calls, "
            f"{t['prompt_tokens']} prompt + "
            f"{t['completion_tokens']} completion tokens, "
            f"cost {t['cost']:.6f}",
            flush=True,
        )
    print("[exit] bye", flush=True)


if __name__ == "__main__":
    main()

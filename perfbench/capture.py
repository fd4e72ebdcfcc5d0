"""The ``log_capture`` workload: a seeded LangChain-shaped callback stream
driven through ``SparkParquetLogger``'s public ``on_*`` handlers, and the
read-back check of what it wrote.

The generator is pure Python and knows nothing of the logger beyond the
handler signatures and the default capture set, so it can tell the check
exactly which events must come back.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

from langchain_callback_parquet_logger_spark.schema import (
    CUSTOM_ID_PREFIX,
    DEFAULT_EVENT_TYPES,
    LOG_SCHEMA,
)

import measure

BUFFER_SIZE = 100  # the flush policy under test: one flush per 100 captured rows
POOL_RUNS = 2_000  # chain runs generated before timing; the timed loop cycles them
# A timed run captures at least this many rows (20 flushes), so that the
# tail percentile of callback latency falls among the flush-blocked calls.
MIN_CAPTURED_ROWS = 20 * BUFFER_SIZE

_WORDS = (
    "the model answer question context retrieve document tool search token "
    "agent plan step result summary user system prompt chain output input "
    "error retry cache vector score rank table query spark parquet log"
).split()
_MODELS = ["gpt-4o-mini", "gpt-4o", "gemini-1.5-pro", "llama-3-70b"]
_TOOLS = ["search", "calculator", "sql", "retriever"]

# The traffic shape. These values are assumptions: neither a public trace of
# LangChain callback streams nor data in this repository fixes them. Text
# sizes set bytes_per_op and the serialization share of op_typical_ms. The
# call mix sets which share of callbacks pass DEFAULT_EVENT_TYPES and so fill
# the buffer, which sets files_per_1k_ops, ops_per_s and how many callbacks
# block in a flush (op_tail_ms).
TEXT_SIZES = {  # (median chars, sigma) of a log-normal length
    "question": (200, 0.8),
    "prompt": (600, 1.0),
    "answer": (300, 0.9),
    "tool_input": (80, 0.5),
    "tool_output": (400, 0.8),
}
LLM_CALLS_PER_CHAIN = (1, 1, 2, 3)  # drawn uniformly from these
CHAT_MODEL_SHARE = 0.7  # of LLM calls; the rest are completion-style LLM calls
TOOL_CALL_SHARE = 0.4  # of successful LLM calls, followed by one tool call
ERROR_RATE = 0.02  # of LLM and tool calls
CUSTOM_ID_SHARE = 0.3  # of chain runs


@dataclass
class Call:
    """One handler invocation; ``expect`` is the (run_id, event_type,
    custom_id) row it must produce, or None when the capture set drops it."""

    method: str
    args: tuple
    kwargs: dict
    expect: tuple[str, str, str] | None


@dataclass
class EventPool:
    runs: list[list[Call]] = field(default_factory=list)

    def expected(self, calls: list[Call]) -> Counter:
        return Counter(c.expect for c in calls if c.expect is not None)


def _text(rng: random.Random, corpus: str, kind: str) -> str:
    median_chars, sigma = TEXT_SIZES[kind]
    n = min(int(rng.lognormvariate(math.log(median_chars), sigma)) + 1, 8_000)
    start = rng.randrange(0, len(corpus) - n)
    return corpus[start : start + n]


def generate(seed: int, n_runs: int = POOL_RUNS) -> EventPool:
    """A seeded pool of chain runs. Each run is a chain with one to three
    chat-model or LLM calls (a few of them failing), optional tool calls,
    log-normal prompt and response sizes, and on a share of the runs a
    custom id carried in the tags; the shares are the constants above."""
    rng = random.Random(seed)
    corpus = " ".join(rng.choice(_WORDS) for _ in range(40_000))
    capture = set(DEFAULT_EVENT_TYPES)
    pool = EventPool()

    def uid() -> str:
        return str(uuid.UUID(int=rng.getrandbits(128), version=4))

    for i in range(n_runs):
        chain_id = uid()
        custom_id = f"req-{seed}-{i}" if rng.random() < CUSTOM_ID_SHARE else ""
        tags = ["perfbench", f"{CUSTOM_ID_PREFIX}{custom_id}"] if custom_id else ["perfbench"]
        base = {"tags": tags, "metadata": {"user": f"u{rng.randrange(500)}", "env": "bench"}}
        calls: list[Call] = []

        def add(method: str, event_type: str, run_id: str, *args, **kw) -> None:
            kwargs = {**base, "run_id": run_id, **kw}
            expect = (run_id, event_type, custom_id) if event_type in capture else None
            calls.append(Call(method, args, kwargs, expect))

        question = _text(rng, corpus, "question")
        add("on_chain_start", "chain_start", chain_id,
            {"id": ["langchain", "schema", "runnable", "RunnableSequence"]},
            {"question": question})
        failed = False
        answer = ""
        for _ in range(rng.choice(LLM_CALLS_PER_CHAIN)):
            llm_id = uid()
            model = rng.choice(_MODELS)
            prompt = _text(rng, corpus, "prompt")
            params = {"model": model, "temperature": round(rng.random(), 2), "max_tokens": 512}
            if rng.random() < CHAT_MODEL_SHARE:
                add("on_chat_model_start", "chat_model_start", llm_id,
                    {"id": ["langchain", "chat_models", "openai", "ChatOpenAI"],
                     "kwargs": {"model_name": model}},
                    [[{"type": "system", "content": "You are a helpful assistant."},
                      {"type": "human", "content": prompt}]],
                    parent_run_id=chain_id, invocation_params=params)
            else:
                add("on_llm_start", "llm_start", llm_id,
                    {"_type": "openai", "name": "OpenAI"}, [prompt],
                    parent_run_id=chain_id, invocation_params=params)
            if rng.random() < ERROR_RATE:
                failed = True
                add("on_llm_error", "llm_error", llm_id,
                    TimeoutError(f"request timed out after {rng.randrange(10, 60)}s"),
                    parent_run_id=chain_id)
                break
            answer = _text(rng, corpus, "answer")
            n_in, n_out = len(prompt) // 4 + 1, len(answer) // 4 + 1
            usage = {"input_tokens": n_in, "output_tokens": n_out, "total_tokens": n_in + n_out}
            add("on_llm_end", "llm_end", llm_id,
                {"generations": [[{"text": answer, "message": {
                    "content": answer, "usage_metadata": usage,
                    "response_metadata": {"model_name": model, "finish_reason": "stop"}}}]],
                 "llm_output": {"token_usage": {
                     "prompt_tokens": n_in, "completion_tokens": n_out,
                     "total_tokens": n_in + n_out}, "model_name": model}},
                parent_run_id=chain_id)
            if rng.random() < TOOL_CALL_SHARE:
                tool_id = uid()
                add("on_tool_start", "tool_start", tool_id,
                    {"name": rng.choice(_TOOLS)}, _text(rng, corpus, "tool_input"),
                    parent_run_id=chain_id)
                if rng.random() < ERROR_RATE:
                    add("on_tool_error", "tool_error", tool_id,
                        RuntimeError("tool failed"), parent_run_id=chain_id)
                else:
                    add("on_tool_end", "tool_end", tool_id,
                        _text(rng, corpus, "tool_output"), parent_run_id=chain_id)
        if failed:
            add("on_chain_error", "chain_error", chain_id, RuntimeError("llm call failed"))
        else:
            add("on_chain_end", "chain_end", chain_id, {"answer": answer})
        pool.runs.append(calls)
    return pool


@dataclass
class CaptureResult:
    latencies_ns: list[int]
    calls: list[Call]
    span_s: float  # first callback to the logger's close, final flush included
    handler_errors: int
    first_error: str | None = None
    cycles: list[Cycle] = field(default_factory=list)
    probes_ns: list[int] = field(default_factory=list)  # host-speed probes, one per chain run


@dataclass
class Cycle:
    """One flush cycle: the calls from the end of one flush through the
    call whose row filled the buffer and flushed it, ``calls[start:end]``.
    ``seconds`` leaves out the probes run between chain runs."""

    start: int
    end: int
    seconds: float

    @property
    def ops_per_s(self) -> float:
        return (self.end - self.start) / self.seconds


def drive(logger, pool: EventPool, seconds: float, min_rows: int = 0, wrap=None) -> CaptureResult:
    """Closed loop: one producer calls the handlers back to back, as
    LangChain's inline callbacks do, until ``seconds`` have passed and
    ``min_rows`` captured rows were sent (one pass over the pool when
    ``seconds`` is 0), finishing the current chain run, then closes the
    logger. Cycles the pool if it runs out. ``wrap`` decorates each bound
    handler (the traced run's spans). After each chain run it times one
    host-speed probe. The logger must have been made with
    ``buffer_size=BUFFER_SIZE``, which is how the flush cycles are found."""
    wrap = wrap or (lambda fn: fn)
    bound = [[(wrap(getattr(logger, c.method)), c) for c in run] for run in pool.runs]
    lat: list[int] = []
    done: list[Call] = []
    errors = captured = 0
    first_error = None
    cycles: list[Cycle] = []
    probes: list[int] = []
    probing = 0  # ns spent in probes in the current cycle
    clock = time.perf_counter_ns
    t_start = time.perf_counter()
    deadline = t_start + seconds
    cycle_start = clock()

    def enough() -> bool:
        return captured >= min_rows and time.perf_counter() >= deadline

    while True:
        for run in bound:
            for fn, c in run:
                t0 = clock()
                try:
                    fn(*c.args, **c.kwargs)
                except Exception as e:  # noqa: BLE001 — a failed callback is counted, not fatal
                    errors += 1
                    first_error = first_error or f"{c.method}: {type(e).__name__}: {e}"
                t1 = clock()
                lat.append(t1 - t0)
                done.append(c)
                if c.expect is not None:
                    captured += 1
                    if captured % BUFFER_SIZE == 0:  # this call flushed
                        start = cycles[-1].end if cycles else 0
                        cycles.append(Cycle(start, len(done), (t1 - cycle_start - probing) / 1e9))
                        cycle_start, probing = clock(), 0
            probes.append(measure.probe_ns())
            probing += probes[-1]
            if seconds and enough():
                break
        if not seconds or enough():
            break
    logger.__exit__(None, None, None)
    return CaptureResult(lat, done, time.perf_counter() - t_start, errors, first_error, cycles,
                         probes)


def check_readback(spark, log_dir: str, expected: Counter) -> tuple[int, list[str]]:
    """Read the written tree back with ``read_log_dataset`` and compare it to
    the expected rows. Returns (failures, messages): a lost, extra or
    garbled row counts one failure, a schema mismatch counts one."""
    from langchain_callback_parquet_logger_spark import read_log_dataset

    if not os.path.isdir(log_dir):
        return sum(expected.values()), ["nothing was written"]
    df = read_log_dataset(spark, log_dir)
    problems: list[str] = []
    failures = 0
    got_schema = [(f.name, f.dataType) for f in df.schema.fields if f.name != "date"]
    want_schema = [(f.name, f.dataType) for f in LOG_SCHEMA.fields]
    if got_schema != want_schema:
        failures += 1
        problems.append(f"schema {got_schema} != LOG_SCHEMA")
    rows = df.select("run_id", "event_type", "custom_id", "payload").collect()
    got: Counter = Counter()
    for r in rows:
        try:
            env = json.loads(r.payload)
            ex = env["execution"]
            intact = (
                ex["run_id"] == r.run_id
                and ex["custom_id"] == r.custom_id
                and env["event_type"] == r.event_type
            )
        except (ValueError, KeyError, TypeError):
            intact = False
        if not intact:
            failures += 1
            problems.append(f"garbled payload for run {r.run_id}")
            continue
        got[(r.run_id, r.event_type, r.custom_id)] += 1
    lost = expected - got
    extra = got - expected
    failures += sum(lost.values()) + sum(extra.values())
    if lost:
        problems.append(f"{sum(lost.values())} expected rows missing")
    if extra:
        problems.append(f"{sum(extra.values())} unexpected rows")
    return failures, problems

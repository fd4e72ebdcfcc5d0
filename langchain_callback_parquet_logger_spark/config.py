"""Configuration surface mirroring the reference's dataclasses
(reference config.py:8-157) so a migrating user keeps their field names,
with each knob re-pointed at the Spark-native mechanism:

- ``S3Config``        → the sink's ``s3a://`` leg: bucket and prefix become
                        its path, and retry_attempts and on_failure its
                        retry budget and error/continue policy.
- ``StorageConfig``   → sink factory + path templating inputs
                        (sinks.create_sink / sinks.render_output_path).
- ``ProcessingConfig``→ batch_run / normalize_events knobs. buffer_size maps
                        to the streaming trigger (micro-batch size is a
                        trigger concern in Spark, not a list length);
                        show_progress maps to the Spark UI / listeners.
- ``JobConfig``       → the logger_metadata JSON constant column.
- ``LLMConfig``       → the model factory used INSIDE the batch-map
                        function (executor-side Python, reference
                        config.py:116-141).
- ``EventType``       → the canonical callback event-type vocabulary
                        (reference config.py:8-31); values must stay
                        byte-identical so existing logs keep querying.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable, Literal, Mapping

from .schema import DEFAULT_EVENT_TYPES, EVENT_TYPES


class EventType(str, Enum):
    """The 12 callback event types (reference config.py:8-31, values
    asserted identical to schema.EVENT_TYPES below)."""

    LLM_START = "llm_start"
    LLM_END = "llm_end"
    LLM_ERROR = "llm_error"
    CHAT_MODEL_START = "chat_model_start"
    CHAIN_START = "chain_start"
    CHAIN_END = "chain_end"
    CHAIN_ERROR = "chain_error"
    TOOL_START = "tool_start"
    TOOL_END = "tool_end"
    TOOL_ERROR = "tool_error"
    AGENT_ACTION = "agent_action"
    AGENT_FINISH = "agent_finish"

    @classmethod
    def default_set(cls) -> list[str]:
        return list(DEFAULT_EVENT_TYPES)

    @classmethod
    def all_events(cls) -> list[str]:
        return [e.value for e in cls]


assert set(EventType.all_events()) == set(EVENT_TYPES)


@dataclass(frozen=True)
class S3Config:
    """Remote sink target (reference config.py:35-46). In Spark the bucket
    and prefix collapse into one ``s3a://`` path string handed to the same
    parquet sink as local output, under the same retry loop."""

    bucket: str
    prefix: str = "langchain-logs/"
    on_failure: Literal["error", "continue"] = "error"
    retry_attempts: int = 3

    @property
    def s3a_dir(self) -> str:
        prefix = self.prefix.strip("/")
        return f"s3a://{self.bucket}/{prefix}" if prefix else f"s3a://{self.bucket}"


@dataclass(frozen=True)
class JobConfig:
    """Job identity embedded in logger_metadata (reference config.py:49-57)."""

    category: str = "batch_processing"
    subcategory: str | None = None
    description: str | None = None
    version: str | None = None
    environment: str | None = None
    metadata: Mapping[str, Any] | None = None

    def to_metadata_dict(self) -> dict[str, Any]:
        out: dict[str, Any] = {
            "job_category": self.category,
            "job_subcategory": self.subcategory,
            "job_description": self.description,
            "job_version": self.version,
            "environment": self.environment,
        }
        if self.metadata:
            out.update(self.metadata)
        return out


@dataclass(frozen=True)
class ProcessingConfig:
    """Batch-processing knobs (reference config.py:60-74). buffer_size has
    no in-memory-list meaning here — it parameterizes the streaming
    trigger / maxFilesPerTrigger when the job runs as a stream."""

    max_concurrency: int = 100
    buffer_size: int = 1000
    show_progress: bool = True  # Spark UI / StreamingQueryListener territory
    return_exceptions: bool = True
    return_results: bool = False
    event_types: tuple[str, ...] | None = None
    partition_on: Literal["date"] | None = "date"

    def resolved_event_types(self) -> tuple[str, ...]:
        return self.event_types or tuple(DEFAULT_EVENT_TYPES)

    def batch_run_kwargs(self) -> dict[str, Any]:
        """Keyword arguments for batchmap.batch_run."""
        return {
            "max_concurrency": self.max_concurrency,
            "return_exceptions": self.return_exceptions,
            "return_results": self.return_results,
        }


@dataclass(frozen=True)
class StorageConfig:
    """Output layout (reference config.py:77-82): base dir + path template
    + optional S3 fan-out, consumed by sinks.render_output_path and
    sinks.create_sink."""

    output_dir: str = "./batch_logs"
    path_template: str = "{job_category}/{job_subcategory}/v{job_version_safe}"
    s3_config: S3Config | None = None

    def create_sink(self, partition_on: Literal["date"] | None = "date"):
        from .sinks import ParquetSink, combine

        legs = (
            [ParquetSink(self.output_dir, partition_on=partition_on)]
            if self.output_dir else []
        )
        s3 = self.s3_config
        if s3 is not None:
            legs.append(ParquetSink(
                s3.s3a_dir, partition_on=partition_on,
                on_failure=s3.on_failure, retry_attempts=s3.retry_attempts,
            ))
        return combine(legs)


@dataclass(frozen=True)
class LLMConfig:
    """Model factory for the batch map (reference config.py:93-141). The
    factory runs executor-side inside the mapInPandas function — Spark
    never serializes a live client, only this config."""

    llm_class: type
    llm_kwargs: Mapping[str, Any] | None = None
    model_kwargs: Mapping[str, Any] | None = None
    structured_output: type | None = None

    def create_llm(self, callbacks: list | None = None) -> Any:
        kwargs = dict(self.llm_kwargs or {})
        if self.model_kwargs:
            kwargs["model_kwargs"] = dict(self.model_kwargs)
        if callbacks:
            # Callbacks must ride the constructor: with_structured_output
            # wraps the model in a runnable without a callbacks attribute
            # (reference regression test test_batch_process.py:438-486).
            kwargs["callbacks"] = callbacks
        llm = self.llm_class(**kwargs)
        if self.structured_output is not None:
            llm = llm.with_structured_output(self.structured_output)
        return llm

    def to_metadata_dict(self) -> dict[str, Any]:
        return {
            "class": self.llm_class.__name__,
            "module": self.llm_class.__module__,
            "llm_kwargs": dict(self.llm_kwargs or {}),
            "model_kwargs": dict(self.model_kwargs or {}),
            "structured_output": (
                self.structured_output.__name__ if self.structured_output else None
            ),
        }


def build_job_metadata(
    job: JobConfig,
    processing: ProcessingConfig | None = None,
    llm: LLMConfig | None = None,
    started_at: str | None = None,
) -> dict[str, Any]:
    """The logger_metadata JSON constant for a batch job (reference
    batch.py:226-254 role): one dict per job, attached to every log row as
    a literal column — never recomputed per row."""
    out = job.to_metadata_dict()
    if processing is not None:
        out["batch_config"] = {
            "max_concurrency": processing.max_concurrency,
            "buffer_size": processing.buffer_size,
            "event_types": list(processing.resolved_event_types()),
            "partition_on": processing.partition_on,
        }
    if llm is not None:
        out["llm_config"] = llm.to_metadata_dict()
    if started_at is not None:
        out["batch_started_at"] = started_at
    return out

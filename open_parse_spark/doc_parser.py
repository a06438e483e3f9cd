"""User-facing API, mirroring the reference's surface so an open-parse user
can switch with minimal relearning.

Reference: ``/root/reference/src/openparse/doc_parser.py:63-126`` (parser +
pipeline selection) and ``processing/ingest.py:25-53`` (IngestionPipeline /
append_transform extension point).

- ``DocumentParser(processing_pipeline=...).parse(text, tool)`` — one
  document (turn payload) -> ``ParsedDocument`` of nodes, eagerly, locally.
- ``DocumentParser.parse_table(spark_df, **kwargs)`` — the same pipeline
  distributed over a transcripts DataFrame by ``parse_transcripts`` (Arrow
  ``mapInPandas``); ``kwargs`` are ``parse_transcripts``' options.
- custom steps: subclass nothing — any ``list[Node] -> list[Node]`` callable
  appended via ``pipeline.append_transform`` (the reference's ProcessingStep
  subclassing collapses to a plain function here).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, List, Optional

from open_parse_spark.core.model import Node
from open_parse_spark.core.parse import parse_turn
from open_parse_spark.core.transforms import (
    Transform,
    basic_pipeline_transforms,
    run_pipeline,
)


class IngestionPipeline:
    """Reference processing/ingest.py:25-53."""

    def __init__(self, transformations: Optional[List[Transform]] = None):
        self.transformations: List[Transform] = list(transformations or [])

    def run(self, nodes: List[Node]) -> List[Node]:
        return run_pipeline(nodes, self.transformations)

    def append_transform(self, transform: Transform) -> None:
        self.transformations.append(transform)


class NoOpIngestionPipeline(IngestionPipeline):
    """Reference processing/ingest.py:56-62."""

    def __init__(self):
        super().__init__([])


class BasicIngestionPipeline(IngestionPipeline):
    """Reference processing/ingest.py:65-92."""

    def __init__(self):
        super().__init__(basic_pipeline_transforms())


class SemanticIngestionPipeline(IngestionPipeline):
    """Reference processing/ingest.py:95-136; embeddings default to the
    deterministic local hashing client (no RPC)."""

    def __init__(
        self,
        embed_many: Optional[Callable] = None,
        min_tokens: int = 256,
        max_tokens: int = 1024,
    ):
        from open_parse_spark.core.semantic import semantic_pipeline_transforms

        super().__init__(
            semantic_pipeline_transforms(
                embed_many, min_tokens=min_tokens, max_tokens=max_tokens
            )
        )


@dataclass
class ParsedDocument:
    """Reference schemas.py:686-700, minus uuid/wall-clock fields
    (SURVEY §4.3.5)."""

    nodes: List[Node]
    filename: str = ""
    num_pages: int = 0
    coordinate_system: str = "bottom-left"
    table_parsing_kwargs: Optional[dict] = field(default=None)


class DocumentParser:
    """Reference doc_parser.py:52-126."""

    def __init__(
        self,
        processing_pipeline: Optional[IngestionPipeline] = None,
        use_basic_pipeline_if_none: bool = True,
    ):
        if processing_pipeline is None and use_basic_pipeline_if_none:
            processing_pipeline = BasicIngestionPipeline()
        elif processing_pipeline is None:
            processing_pipeline = NoOpIngestionPipeline()
        self.processing_pipeline = processing_pipeline

    def parse(
        self, text: Optional[str], tool: Optional[str] = None, filename: str = ""
    ) -> ParsedDocument:
        """One document payload -> ParsedDocument (local, eager): the same
        ``parse_turn`` the distributed parse runs per turn."""
        nodes = parse_turn(text, tool, self.processing_pipeline.transformations)
        num_pages = (
            max((n.end_page for n in nodes), default=-1) + 1 if nodes else 0
        )
        return ParsedDocument(nodes=nodes, filename=filename, num_pages=num_pages)

    def parse_table(self, transcripts_df, **kwargs):
        """Distributed: transcripts DataFrame -> node rows, through
        ``parse_transcripts`` with this pipeline's transforms (they ship to
        executors inside the Arrow UDF).  ``kwargs`` are
        ``parse_transcripts``' options (``repartition_for_skew``,
        ``output_columns``), for every pipeline."""
        from open_parse_spark.spark.pipeline import parse_transcripts

        return parse_transcripts(
            transcripts_df, transforms=self.processing_pipeline.transformations, **kwargs
        )

"""Data sources: deterministic transcript generator, storage, testdata."""

from .transcripts import transcripts_df, generate_transcripts_pandas, TRANSCRIPT_SCHEMA
from .testdata import load_table
from .ucr import read_ucr

__all__ = ["transcripts_df", "generate_transcripts_pandas",
           "TRANSCRIPT_SCHEMA", "load_table", "read_ucr"]

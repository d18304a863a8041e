from .io import read_transcripts  # noqa: F401
from .checkpoint import CheckpointedRun  # noqa: F401

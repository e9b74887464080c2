from .extract import (  # noqa: F401
    binary_scan,
    extract_text,
    csv_scan,
)
from .sinks import append_chat_history, read_chat_history  # noqa: F401

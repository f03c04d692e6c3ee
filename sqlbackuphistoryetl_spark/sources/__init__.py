from .extract import extract_backup_history, extract_fleet, project_source, REPLAY_BUFFER_MINUTES  # noqa: F401
from .readers import SourceTables, read_source_tables, read_consolidated  # noqa: F401

"""Writers and the versioned table format: XPT, Dataset-XML, Define-XML, project files."""

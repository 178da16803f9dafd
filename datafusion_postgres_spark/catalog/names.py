"""Known catalog table names.

The reference qualifies bare references to these to the ``pg_catalog``
schema (``sql/rules.rs:451-502``); full list of shipped static tables at
``datafusion-pg-catalog/src/pg_catalog.rs:121-194`` plus the dynamically
synthesized ones (``pg_catalog.rs:430-487``).

Spark temp views are a flat namespace, so the dialect layer maps
``pg_catalog.pg_class`` → view ``pg_catalog_pg_class``.
"""

# Rebuilt from the live session catalog / GUCs by pg_catalog.refresh
DYNAMIC_PG_TABLES = {"pg_class", "pg_attribute", "pg_tables", "pg_settings"}

# Built once per server (the reference exports these from a real
# PostgreSQL with export_pg_catalog_arrow.sh; we regenerate equivalent
# content ourselves)
STATIC_PG_TABLES = {
    "pg_namespace", "pg_database", "pg_roles", "pg_views", "pg_matviews",
    "pg_stat_user_tables", "pg_replication_slots", "pg_stat_gssapi",
    "pg_type", "pg_proc", "pg_am", "pg_operator", "pg_collation",
    "pg_constraint", "pg_index", "pg_inherits", "pg_description",
    "pg_depend", "pg_enum", "pg_extension", "pg_language", "pg_rewrite",
    "pg_trigger", "pg_aggregate", "pg_cast", "pg_conversion",
    "pg_range", "pg_sequence", "pg_policy", "pg_publication",
    "pg_subscription", "pg_tablespace", "pg_authid", "pg_auth_members",
    "pg_shdescription", "pg_statistic_ext", "pg_foreign_table",
    "pg_foreign_server", "pg_foreign_data_wrapper", "pg_user_mapping",
    "pg_default_acl", "pg_init_privs", "pg_event_trigger", "pg_opclass",
    "pg_opfamily", "pg_amop", "pg_amproc", "pg_attrdef", "pg_largeobject",
    "pg_largeobject_metadata", "pg_partitioned_table", "pg_publication_rel",
    "pg_seclabel", "pg_shseclabel", "pg_statistic", "pg_transform",
    "pg_db_role_setting", "pg_parameter_acl", "pg_publication_namespace",
    "pg_replication_origin", "pg_shdepend", "pg_statistic_ext_data",
    "pg_subscription_rel",
    "pg_ts_config", "pg_ts_config_map", "pg_ts_dict", "pg_ts_parser",
    "pg_ts_template", "pg_user", "pg_group", "pg_shadow", "pg_stat_activity",
    "pg_locks", "pg_cursors", "pg_available_extensions", "pg_timezone_names",
    "pg_timezone_abbrevs", "pg_get_keywords", "pg_indexes", "pg_sequences",
}

PG_CATALOG_TABLES = DYNAMIC_PG_TABLES | STATIC_PG_TABLES

INFORMATION_SCHEMA_TABLES = {
    "tables", "columns", "views", "schemata", "table_constraints",
    "key_column_usage", "referential_constraints", "routines",
}

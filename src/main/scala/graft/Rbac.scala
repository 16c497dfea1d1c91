package graft

/** Role-based access control (reference: `proxy/impl.go` CreateRole /
  * OperatePrivilege / OperatePrivilegeV2, privilege enums in
  * milvus-proto commonpb.ObjectPrivilege, built-in privilege GROUPS in
  * `pkg/util/constant.go` CollectionReadOnly/ReadWrite/AdminPrivileges).
  *
  * Operation-level security, complementing [[Rls]] (row-level): a user
  * holds roles, a role holds grants of (privilege | privilege group)
  * on a collection name (`*` = any). Every facade query, search and
  * export verb checks its privilege through one gate,
  * `Collection.readScope`, every row-stamping write through
  * `Collection.writeScope`, and DDL, import and feed-apply verbs check
  * theirs directly, before touching a plan. Two row-reading methods stay
  * ungated: the engine primitives `Collection.readView` and
  * `Collection.changesSince`, which fixtures and replicas read directly. Pure
  * driver-side metadata — nothing here runs on executors, so
  * enforcement cost is O(grants) per operation, independent of data
  * size.
  */
object Rbac {

  /** Collection-level privileges (the subset of
    * commonpb.ObjectPrivilege this engine's facade exposes), named
    * exactly as the reference names them.
    */
  val CollectionPrivileges: Set[String] = Set(
    "Query", "Search", "GetStatistics", "IndexDetail", "ShowPartitions",
    "Insert", "Delete", "Upsert", "Import", "Flush", "Compaction",
    "CreateIndex", "DropIndex", "CreatePartition", "DropPartition",
    "CreateAlias", "DropAlias", "Truncate", "Load", "Release",
    "AlterCollection")

  /** Built-in privilege groups (`pkg/util/constant.go`, rbac v2):
    * ReadOnly ⊂ ReadWrite ⊂ Admin.
    */
  val ReadOnlyGroup: Set[String] = Set(
    "Query", "Search", "GetStatistics", "IndexDetail", "ShowPartitions")
  val ReadWriteGroup: Set[String] = ReadOnlyGroup ++ Set(
    "Insert", "Delete", "Upsert", "Import", "Flush", "Compaction",
    "CreateIndex", "DropIndex", "CreatePartition", "DropPartition",
    "Truncate", "Load", "Release")
  val AdminGroup: Set[String] =
    ReadWriteGroup ++ Set("CreateAlias", "DropAlias", "AlterCollection")

  private val Groups: Map[String, Set[String]] = Map(
    "CollectionReadOnly" -> ReadOnlyGroup,
    "CollectionReadWrite" -> ReadWriteGroup,
    "CollectionAdmin" -> AdminGroup)

  final case class Grant(role: String, privilege: String, collection: String)

  /** A db-scoped grant (rbac v2 — reference OperatePrivilegeV2). */
  final case class GrantV2(role: String, privilege: String, db: String,
      collection: String)

  /** Full RBAC metadata snapshot (reference impl.go BackupRBAC /
    * RestoreRBAC — RBACMeta: users with stored credentials, roles,
    * grants, privilege groups). Credentials travel as their salted
    * PBKDF2 digests — never plaintext, same as the reference's encrypted
    * password backup.
    */
  final case class Backup(
      roles: Set[String],
      userRoles: Map[String, Set[String]],
      grants: Set[Grant],
      credentials: Map[String, (Array[Byte], Array[Byte])],
      descriptions: Map[String, String],
      privilegeGroups: Map[String, Set[String]] = Map.empty,
      grantsV2: Set[GrantV2] = Set.empty,
      roleDescriptions: Map[String, String] = Map.empty)

  /** Mutable driver-side registry of roles, user-role bindings, and
    * grants — the rootcoord metastore analogue. Thread-safe: facade
    * checks may race admin mutations.
    */
  final class Registry {
    private var roles: Set[String] = Set("admin", "public") // reference built-ins
    private var userRoles: Map[String, Set[String]] = Map.empty
    private var grants: Set[Grant] = Set.empty
    private val lock = new Object

    def createRole(role: String): Unit = lock.synchronized {
      require(!roles.contains(role), s"role '$role' already exists")
      roles += role
    }

    def dropRole(role: String): Unit = lock.synchronized {
      require(!Set("admin", "public").contains(role), s"cannot drop built-in role '$role'")
      roles -= role
      grants = grants.filterNot(_.role == role)
      grantsV2 = grantsV2.filterNot(_.role == role)
      roleDescriptions -= role
      userRoles = userRoles.view.mapValues(_ - role).toMap
    }

    // role descriptions (reference impl.go AlterRole:5252 — mutate a
    // role's description; the default roles admin/public are immutable,
    // rejected with the reference's not-permitted error)
    private var roleDescriptions: Map[String, String] = Map.empty

    /** AlterRole: set or clear a role's description. */
    def alterRole(role: String, description: String): Unit = lock.synchronized {
      require(roles.contains(role), s"no such role '$role'")
      require(!Set("admin", "public").contains(role),
        s"the role '$role' is a default role, which can't be altered")
      if (description.isEmpty) roleDescriptions -= role
      else roleDescriptions += role -> description
    }

    /** SelectRole's description + grant view for one role. */
    def describeRole(role: String): (String, Seq[Grant]) = lock.synchronized {
      require(roles.contains(role), s"no such role '$role'")
      (roleDescriptions.getOrElse(role, ""),
        grants.filter(_.role == role).toSeq.sortBy(g => (g.collection, g.privilege)))
    }

    def addUserToRole(user: String, role: String): Unit = lock.synchronized {
      require(roles.contains(role), s"no such role '$role'")
      userRoles += user -> (userRoles.getOrElse(user, Set.empty) + role)
    }

    def removeUserFromRole(user: String, role: String): Unit = lock.synchronized {
      userRoles += user -> (userRoles.getOrElse(user, Set.empty) - role)
    }

    // ---- custom privilege groups (reference impl.go
    // CreatePrivilegeGroup / DropPrivilegeGroup / ListPrivilegeGroups /
    // OperatePrivilegeGroup; rbac v2): a named, mutable set of
    // privileges grantable exactly like the built-in groups. Membership
    // resolves at CHECK time, so adding/removing privileges takes
    // effect on grants already in place — the reference's contract.
    private var customGroups: Map[String, Set[String]] = Map.empty

    /** CreatePrivilegeGroup: the name must not collide with a built-in
      * group, a privilege name, or an existing custom group. Starts
      * empty; populate with [[operatePrivilegeGroup]].
      */
    def createPrivilegeGroup(name: String): Unit = lock.synchronized {
      require(name.nonEmpty, "privilege group name must be non-empty")
      require(!Groups.contains(name) && !CollectionPrivileges.contains(name),
        s"'$name' is a built-in group or privilege name")
      require(!customGroups.contains(name),
        s"privilege group '$name' already exists")
      customGroups += name -> Set.empty
    }

    /** DropPrivilegeGroup: built-ins are permanent; a group still
      * referenced by a grant cannot be dropped (the reference rejects
      * the drop rather than silently stranding the grant).
      */
    def dropPrivilegeGroup(name: String): Unit = lock.synchronized {
      require(!Groups.contains(name), s"cannot drop built-in group '$name'")
      require(customGroups.contains(name), s"no such privilege group '$name'")
      require(!grants.exists(_.privilege == name) &&
        !grantsV2.exists(_.privilege == name),
        s"privilege group '$name' is referenced by a grant — revoke first")
      customGroups -= name
    }

    /** OperatePrivilegeGroup: add or remove privileges. Only custom
      * groups are mutable; every privilege must be a known collection
      * privilege.
      */
    def operatePrivilegeGroup(name: String, privileges: Set[String],
        add: Boolean): Unit = lock.synchronized {
      require(customGroups.contains(name),
        if (Groups.contains(name)) s"built-in group '$name' is immutable"
        else s"no such privilege group '$name'")
      val unknown = privileges.diff(CollectionPrivileges)
      require(unknown.isEmpty, s"unknown privilege(s): ${unknown.mkString(", ")}")
      customGroups += name -> (
        if (add) customGroups(name) ++ privileges
        else customGroups(name) -- privileges)
    }

    /** ListPrivilegeGroups: built-in + custom, with members, sorted. */
    def listPrivilegeGroups: Seq[(String, Set[String])] = lock.synchronized {
      (Groups ++ customGroups).toSeq.sortBy(_._1)
    }

    /** Grant a privilege or a group — built-in or custom (reference
      * OperatePrivilege(Grant) / V2 with groups). `collection` may be
      * `*` for any collection.
      */
    def grant(role: String, privilegeOrGroup: String, collection: String): Unit =
      lock.synchronized {
        require(roles.contains(role), s"no such role '$role'")
        require(Groups.contains(privilegeOrGroup) ||
          customGroups.contains(privilegeOrGroup) ||
          CollectionPrivileges.contains(privilegeOrGroup),
          s"unknown privilege '$privilegeOrGroup'")
        grants += Grant(role, privilegeOrGroup, collection)
      }

    /** Revoke a previously granted privilege/group (exact match, like
      * the reference's Revoke — a group grant is revoked as a group).
      */
    def revoke(role: String, privilegeOrGroup: String, collection: String): Unit =
      lock.synchronized { grants -= Grant(role, privilegeOrGroup, collection) }

    // ---- rbac v2 (reference impl.go OperatePrivilegeV2:5459): grants
    // carry an explicit DATABASE scope alongside the collection, and
    // `*` wildcards on either level — the db-wide and cluster-wide
    // grant shapes v1 cannot express.
    private var grantsV2: Set[GrantV2] = Set.empty

    /** OperatePrivilegeV2(Grant): validated like [[grant]], plus the db
      * scope. `db` and `collection` each accept `*`.
      */
    def grantV2(role: String, privilegeOrGroup: String, db: String,
        collection: String): Unit = lock.synchronized {
      require(roles.contains(role), s"no such role '$role'")
      require(db.nonEmpty && collection.nonEmpty,
        "db and collection must be non-empty ('*' for any)")
      require(Groups.contains(privilegeOrGroup) ||
        customGroups.contains(privilegeOrGroup) ||
        CollectionPrivileges.contains(privilegeOrGroup),
        s"unknown privilege '$privilegeOrGroup'")
      grantsV2 += GrantV2(role, privilegeOrGroup, db, collection)
    }

    /** OperatePrivilegeV2(Revoke): exact-match removal, like v1. */
    def revokeV2(role: String, privilegeOrGroup: String, db: String,
        collection: String): Unit = lock.synchronized {
      grantsV2 -= GrantV2(role, privilegeOrGroup, db, collection)
    }

    def listGrantsV2(role: String): Seq[GrantV2] = lock.synchronized(
      grantsV2.filter(_.role == role).toSeq
        .sortBy(g => (g.db, g.collection, g.privilege)))

    /** Does `user` hold `privilege` on `collection`? The built-in
      * `admin` role passes everything (reference root/admin semantics).
      * v1 grants are db-agnostic; the db-scoped overload also consults
      * v2 grants.
      */
    def allowed(user: String, privilege: String, collection: String): Boolean =
      allowed(user, privilege, "default", collection)

    /** Db-scoped check (rbac v2): v1 grants match any db (they carry no
      * db scope); v2 grants match on (db, collection) with wildcards.
      */
    def allowed(user: String, privilege: String, db: String,
        collection: String): Boolean =
      lock.synchronized {
        val rs = userRoles.getOrElse(user, Set.empty) + "public"
        if (rs.contains("admin")) return true
        def carries(grantedPriv: String): Boolean =
          grantedPriv == privilege ||
            Groups.get(grantedPriv).exists(_.contains(privilege)) ||
            customGroups.get(grantedPriv).exists(_.contains(privilege))
        grants.exists { g =>
          rs.contains(g.role) &&
          (g.collection == "*" || g.collection == collection) &&
          carries(g.privilege)
        } || grantsV2.exists { g =>
          rs.contains(g.role) &&
          (g.db == "*" || g.db == db) &&
          (g.collection == "*" || g.collection == collection) &&
          carries(g.privilege)
        }
      }

    def listGrants(role: String): Seq[Grant] =
      lock.synchronized(grants.filter(_.role == role).toSeq.sortBy(g =>
        (g.collection, g.privilege)))

    // ---- credentials (reference impl.go CreateCredential /
    // UpdateCredential / DeleteCredential / ListCredUsers; the proxy
    // stores bcrypt digests in the metastore — here PBKDF2-HMAC-SHA256
    // with a high iteration count, the same key-stretched
    // never-store-plaintext contract without a non-JDK bcrypt dep).
    // Verification is constant-time over the digest bytes.
    private var credentials: Map[String, (Array[Byte], Array[Byte])] = Map.empty

    // 210k iterations ≈ the current OWASP floor for PBKDF2-SHA256 —
    // the work factor bcrypt's cost parameter supplies in the reference
    private val Pbkdf2Iterations = 210000

    private def digest(password: String, salt: Array[Byte]): Array[Byte] = {
      val spec = new javax.crypto.spec.PBEKeySpec(
        password.toCharArray, salt, Pbkdf2Iterations, 256)
      javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
        .generateSecret(spec).getEncoded
    }

    // user description (MEP 20260601-rbac-user-description.md: an
    // optional human-readable note persisted with credential metadata,
    // editable WITHOUT rotating the password, and survived BY rotation)
    private var userDescriptions: Map[String, String] = Map.empty

    def createCredential(user: String, password: String,
        description: String = ""): Unit = {
      val salt = new Array[Byte](16)
      new java.security.SecureRandom().nextBytes(salt)
      val d = digest(password, salt) // stretch outside the lock
      lock.synchronized {
        require(!credentials.contains(user), s"credential for '$user' already exists")
        credentials += user -> ((salt, d))
        if (description.nonEmpty) userDescriptions += user -> description
      }
    }

    /** UpdateCredential: the old password must verify first (the
      * reference checks oldPassword before accepting newPassword).
      * Rotation does NOT erase the description (MEP 20260601). Both
      * PBKDF2 stretches run outside the lock; the swap re-checks that
      * the credential is unchanged since the verify (a concurrent
      * rotation loses one of the two racers, never both silently).
      */
    def updateCredential(user: String, oldPassword: String, newPassword: String): Unit = {
      val before = lock.synchronized(credentials.get(user))
      val verified = before.exists { case (salt, want) =>
        java.security.MessageDigest.isEqual(want, digest(oldPassword, salt))
      }
      require(verified, "old password does not verify")
      val salt = new Array[Byte](16)
      new java.security.SecureRandom().nextBytes(salt)
      val d = digest(newPassword, salt)
      lock.synchronized {
        require(credentials.get(user).exists(cur => before.exists(_ eq cur)),
          "credential changed concurrently — retry")
        credentials += user -> ((salt, d))
      }
    }

    /** Description-only update through the credential API — no password
      * required or touched (MEP 20260601's UpdateCredential extension).
      */
    def updateUserDescription(user: String, description: String): Unit =
      lock.synchronized {
        require(credentials.contains(user), s"no credential for '$user'")
        if (description.isEmpty) userDescriptions -= user
        else userDescriptions += user -> description
      }

    /** DescribeUser: (roles, description) — description returned even
      * when role information is not requested elsewhere.
      */
    def describeUser(user: String): (Set[String], String) = lock.synchronized {
      require(credentials.contains(user), s"no credential for '$user'")
      (userRoles.getOrElse(user, Set.empty),
        userDescriptions.getOrElse(user, ""))
    }

    /** Key stretching runs OUTSIDE the registry lock: PBKDF2 at 210k
      * iterations costs ~100 ms of CPU, and holding the lock for it
      * would serialize every facade privilege check behind each auth.
      * Only the (salt, digest) snapshot read is synchronized.
      */
    def verifyCredential(user: String, password: String): Boolean = {
      val snap = lock.synchronized(credentials.get(user))
      snap.exists { case (salt, want) =>
        java.security.MessageDigest.isEqual(want, digest(password, salt))
      }
    }

    def deleteCredential(user: String): Unit = lock.synchronized {
      credentials -= user
      userDescriptions -= user
    }

    def listCredUsers: Seq[String] = lock.synchronized(credentials.keys.toSeq.sorted)

    /** BackupRBAC: a consistent snapshot of all RBAC metadata. */
    def backup(): Backup = lock.synchronized(
      Backup(roles, userRoles, grants,
        credentials.map { case (u, (s, d)) => u -> ((s.clone, d.clone)) },
        userDescriptions, customGroups, grantsV2, roleDescriptions))

    /** RestoreRBAC: replace this registry's state with a backup's
      * (the reference restores into a CLEAN deployment; restoring over
      * existing metadata replaces it wholesale — atomic under the lock).
      */
    def restore(b: Backup): Unit = lock.synchronized {
      roles = b.roles ++ Set("admin", "public") // built-ins always exist
      userRoles = b.userRoles
      grants = b.grants
      credentials = b.credentials.map { case (u, (s, d)) => u -> ((s.clone, d.clone)) }
      userDescriptions = b.descriptions
      customGroups = b.privilegeGroups
      grantsV2 = b.grantsV2
      roleDescriptions = b.roleDescriptions
    }
  }
}
